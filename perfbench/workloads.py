"""The workloads: search_mixed and curate.

Each workload function takes a `Run` (seed, seconds, tracing flag, work
directory) and a `Result`; it does its set-up, measures for
`run.seconds`, checks its outputs and fills in the `Result`. The untraced form calls the library's
public entry points (`catalog.build_index`, `catalog.search_index`,
`curation.curate_corpus`, ...). The traced form calls the public
functions of each layer one at a time, each inside a span, so the
per-layer numbers come from the benchmark's own files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import Tracer

K = 10  # top-k of every query
NPROBE = 4  # the CLI default
DIMS = 64  # the library's default embedding width
INDEX = "idx"  # the index's name inside its warehouse directory

# Workload sizes, chosen so one run (set-up, --seconds of measurement,
# checks) fits well under a minute on a 4-core machine.
SEARCH_DOCS = 300  # docs in search_mixed's pre-built index
APPEND_DOCS = 4  # docs per append_to_index call
CLIENTS = 2  # threads of search_mixed's closed loop
BATCH_QUERIES = 8  # queries per batch_search call
RECALL_QUERIES = 1024  # queries of the IVF recall measurement
CURATE_DOCS = 900  # docs per curate_corpus call; one call outlasts --seconds
WARM_DOCS = 80  # docs of curate's warm-up corpus

now = time.perf_counter


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: Path


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    detail: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    layers: dict = field(default_factory=dict)  # per-layer metric -> value
    env: dict = field(default_factory=dict)

    def op(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


# ---------------------------------------------------------------------------
# Shared helpers
# ---------------------------------------------------------------------------

def write_docs(path: Path, docs: list[tuple[int, str, str]]) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "source": [d[1] for d in docs],
            "text": [d[2] for d in docs],
        }),
        path,
    )
    return path


def start_session(work: Path):
    from leann_rs_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        },
    )


def setup(run: Run, res: Result, warm):
    """Start the session and run `warm(spark)`; the whole is `setup_s`."""
    t0 = now()
    spark = start_session(run.work)
    res.layers["session.start_s"] = now() - t0
    warm(spark)
    res.e2e["setup_s"] = (now() - t0, "s", 1)
    return spark


def read_table(path) -> pa.Table:
    return pq.read_table(str(path))


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, data files) under `path`, Spark's marker files excluded."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def load_vectors(index_dir: Path) -> tuple[np.ndarray, np.ndarray]:
    """Stored embeddings as (idx, matrix), ordered by idx."""
    t = read_table(index_dir / "embeddings")
    idx = np.asarray(t.column("idx").to_numpy())
    mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(idx, kind="stable")
    return idx[order], mat[order]


def topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[int]:
    """Top-k ids by score DESC, then id ASC."""
    order = np.lexsort((ids, -scores))
    return ids[order[:k]].tolist()


def qvec(text: str) -> list[float]:
    from leann_rs_spark.operators.embedder import py_hash_embedding

    return py_hash_embedding(text, DIMS)


class Layout:
    """An index as its files say it is, read with pyarrow: the stored
    vectors, each passage's source, and the IVF layout. Brute-force
    references for the output checks come from here."""

    def __init__(self, index_dir: Path):
        self.ids, self.mat = load_vectors(index_dir)
        self.pos = {int(x): j for j, x in enumerate(self.ids)}
        passages = read_table(index_dir / "passages")
        self.source = dict(zip(passages.column("idx").to_pylist(),
                               passages.column("source").to_pylist()))
        self.text = dict(zip(passages.column("idx").to_pylist(),
                             passages.column("text").to_pylist()))
        cents = read_table(index_dir / "ivf_centroids")
        self.cid = np.asarray(cents.column("centroid_id").to_numpy())
        self.cvec = np.array(cents.column("centroid_vec").to_pylist(), dtype=np.float64)
        ivf = read_table(index_dir / "ivf")
        of = dict(zip(ivf.column("idx").to_pylist(), ivf.column("cluster_id").to_pylist()))
        self.cluster = np.array([of.get(int(i), -1) for i in self.ids])
        self.ivf_ids = np.sort(np.asarray(ivf.column("idx").to_numpy()))

    def score(self, idx, qv) -> float:
        return float(self.mat[self.pos[int(idx)]] @ np.asarray(qv))

    def exact(self, qv, mask=None) -> list[int]:
        ids, mat = (self.ids, self.mat) if mask is None else (self.ids[mask], self.mat[mask])
        return topk(ids, mat @ np.asarray(qv), K)

    def probed(self, qv) -> np.ndarray:
        """Row mask of the NPROBE clusters nearest the query (centroid
        score DESC, centroid id ASC), as `ann.ivf_search` probes."""
        probes = self.cid[np.lexsort((self.cid, -(self.cvec @ np.asarray(qv))))[:NPROBE]]
        return np.isin(self.cluster, probes)

    def same_topk(self, got: list[int], want: list[int], qv) -> bool:
        """Equal id lists, or lists whose exact scores agree to 1e-9
        position by position (a tie broken by last-ulp differences)."""
        if got == want:
            return True
        return len(got) == len(want) and np.allclose(
            [self.score(g, qv) for g in got], [self.score(w, qv) for w in want],
            rtol=0, atol=1e-9)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Index build: search_mixed's set-up, and its traced run's write path
# ---------------------------------------------------------------------------

def _build(spark, wh: str, path: Path) -> int:
    from leann_rs_spark import catalog

    meta = catalog.build_index(spark, wh, INDEX, spark.read.parquet(str(path)))
    catalog.build_ivf_index(spark, wh, INDEX, n_centroids=None)
    return meta.passage_count


def _build_traced(spark, tr: Tracer, wh: str, path: Path) -> int:
    """build_index + build_ivf_index, one layer call at a time, each
    stage materialized (persisted, then written to a no-op sink)."""
    from leann_rs_spark import catalog
    from leann_rs_spark.operators.ann import ivf_assign, kmeans_centroids
    from leann_rs_spark.operators.bm25 import build_bm25_index
    from leann_rs_spark.operators.chunker import chunk_documents
    from leann_rs_spark.operators.embedder import embed_documents
    from leann_rs_spark.utils import with_dense_index

    base = f"{wh}/{INDEX}"
    held = []

    def keep(df):
        held.append(df.persist())
        return held[-1]

    with tr.span("chunker", "chunk_documents") as sp:
        chunks = keep(chunk_documents(spark.read.parquet(str(path))))
        noop(chunks)
    sp.counts["passages_out"] = chunks.count()
    with tr.span("catalog", "dense ids + write passages"):
        with_dense_index(chunks, ["doc_id", "chunk_index"], "idx").write.mode(
            "overwrite").parquet(f"{base}/passages")
        passages = spark.read.parquet(f"{base}/passages")
    with tr.span("embedder", "embed_documents"):
        emb = keep(embed_documents(passages.select("idx", "text"), dims=DIMS,
                                   id_col="idx").select("idx", "embedding"))
        noop(emb)
    with tr.span("catalog", "write embeddings"):
        emb.write.mode("overwrite").parquet(f"{base}/embeddings")
    with tr.span("bm25", "build_bm25_index") as sp:
        postings, docstats, _ = build_bm25_index(passages, id_col="idx", text_col="text")
        held.extend([postings, docstats])
        noop(postings)
        noop(docstats)
    sp.counts["postings_rows"] = postings.count()
    with tr.span("catalog", "write bm25"):
        postings.withColumn("term_bucket", catalog.term_bucket("term")).repartition(
            catalog.TERM_BUCKETS, "term_bucket").write.mode("overwrite").partitionBy(
            "term_bucket").parquet(f"{base}/bm25_postings")
        docstats.write.mode("overwrite").parquet(f"{base}/bm25_docstats")
    n = spark.read.parquet(f"{base}/passages").count()
    c = catalog.suggest_ivf_centroids(n)
    stored = spark.read.parquet(f"{base}/embeddings")
    with tr.span("ann", "kmeans_centroids"):
        cents = keep(kmeans_centroids(stored, c, id_col="idx", seed=42))
        noop(cents)
    with tr.span("ann", "ivf_assign"):
        assigned = keep(ivf_assign(stored, cents, id_col="idx"))
        noop(assigned)
    with tr.span("catalog", "write ivf"):
        assigned.repartition(c, "cluster_id").write.mode("overwrite").partitionBy(
            "cluster_id").parquet(f"{base}/ivf")
        cents.write.mode("overwrite").parquet(f"{base}/ivf_centroids")
    catalog.save_meta(wh, INDEX, catalog.IndexMeta(
        dimensions=DIMS, passage_count=n, backend="ivf",
        extra={"bm25": True, "ivf_centroids": c, "ivf_policy": "kmeans", "ivf_seed": 42}))
    for df in held:
        df.unpersist()
    return n


def _check_built(res: Result, index_dir: Path, lay: Layout, corpus: gen.Corpus) -> None:
    """Check a freshly built index from its files."""
    from leann_rs_spark import catalog

    meta = catalog.load_meta(str(index_dir.parent), index_dir.name)
    n = meta.passage_count
    res.op(len(lay.ids) == n == len(lay.text) and np.array_equal(lay.ids, np.arange(n)),
           f"{index_dir.name}: passages/embeddings/meta disagree")
    res.op(np.array_equal(lay.ivf_ids, lay.ids), f"{index_dir.name}: ivf rows != passages")
    doc_ids = set(read_table(index_dir / "passages").column("doc_id").to_pylist())
    res.op(doc_ids == {d[0] for d in corpus.docs}, f"{index_dir.name}: docs lost")
    # stored vectors are the embedder's vectors of the passage text
    for i in (0, n // 2, n - 1):
        res.op(np.allclose(lay.mat[i], qvec(lay.text[i]), rtol=0, atol=1e-9),
               f"{index_dir.name}: embedding of idx {i} is not its text's")


# ---------------------------------------------------------------------------
# search_mixed
# ---------------------------------------------------------------------------

# One cycle of the closed loop's operation schedule, which both clients
# take their next operation from. Every other operation is a vector-only
# query; every 24th is an append, early in the cycle so that each
# measured window holds the same one.
SCHEDULE = [x for pair in zip(
    ["vector"] * 12,
    ["append", "hybrid", "filtered", "ivf", "batch", "filtered",
     "ivf", "hybrid", "filtered", "ivf", "batch", "hybrid"]) for x in pair]
SINGLE = ("vector", "hybrid", "filtered", "ivf")


class _Searcher:
    """One index, the ops the closed loop issues against it, and what
    each op returned (kept for the checks after the loop)."""

    def __init__(self, spark, tr: Tracer, wh: Path, seed: int,
                 corpus: gen.Corpus, append_paths: list[Path]):
        self.spark, self.tr, self.wh = spark, tr, wh
        self.base = wh / INDEX
        self.trace = tr.enabled
        self.long_q = gen.make_queries(seed, corpus, 64, short=False, salt=1)
        self.short_q = gen.make_queries(seed, corpus, 64, short=True, salt=2)
        self.filters = [f"source:{self.filter_source(i)}*" for i in range(64)]
        self.append_paths = append_paths
        self.appended = 0
        self.append_lock = threading.Lock()
        self.records: list[dict] = []
        self.lock = threading.Lock()

    @staticmethod
    def filter_source(i: int) -> str:
        return f"src{i % gen.N_SOURCES}"

    # -- untraced ops: the public entry points -----------------------

    def vector(self, i):
        from leann_rs_spark import catalog

        q = self.long_q[i % 64]
        return q, catalog.search_index(self.spark, str(self.wh), INDEX, q, k=K).collect()

    def hybrid(self, i):
        from leann_rs_spark import catalog

        q = self.short_q[i % 64]
        return q, catalog.search_index(self.spark, str(self.wh), INDEX, q, k=K).collect()

    def filtered(self, i):
        from leann_rs_spark import catalog

        q = self.long_q[(i + 17) % 64]
        return q, catalog.search_index(self.spark, str(self.wh), INDEX, q, k=K,
                                       filter_str=self.filters[i % 64]).collect()

    def ivf(self, i):
        from leann_rs_spark import catalog

        q = self.long_q[(i + 31) % 64]
        return q, catalog.search_ivf_index(self.spark, str(self.wh), INDEX, q,
                                           k=K, nprobe=NPROBE).collect()

    def batch(self, i):
        from leann_rs_spark.operators.search import batch_search

        qs = [self.long_q[(i + j) % 64] for j in range(BATCH_QUERIES)]
        qdf = self.spark.createDataFrame(
            [(j, qvec(q)) for j, q in enumerate(qs)],
            "query_id int, query_vec array<double>")
        emb = self.spark.read.parquet(str(self.base / "embeddings"))
        with self.tr.span("search", "batch_search"):
            rows = batch_search(emb, qdf, k=K, id_col="idx").collect()
        return qs, rows

    def append(self, i):
        from leann_rs_spark import catalog

        with self.append_lock:
            path = self.append_paths[self.appended % len(self.append_paths)]
            with self.tr.span("catalog", "append_to_index"):
                meta = catalog.append_to_index(
                    self.spark, str(self.wh), INDEX, self.spark.read.parquet(str(path)))
            self.appended += 1
        return str(path), meta.passage_count

    # -- traced ops: each layer's public function, one at a time ------

    def _assemble(self, hits):
        """Join persisted hits to their passages, as search_index does."""
        from pyspark.sql import functions as F

        with self.tr.span("catalog", "assemble"):
            passages = self.spark.read.parquet(str(self.base / "passages"))
            rows = (F.broadcast(hits).join(passages, "idx")
                    .select("idx", "score", "doc_id", "source", "text")
                    .orderBy(F.col("score").desc(), F.col("idx").asc()).collect())
        hits.unpersist()
        return rows

    def _embed(self, q):
        with self.tr.span("embedder", "query_embed"):
            return qvec(q)

    def _exact(self, emb, qv, fetch_k, k=None):
        """exact_search for `fetch_k` rows, cut to the top `k` when given
        (as search_index does), persisted and materialized in its span."""
        from pyspark.sql import functions as F

        from leann_rs_spark.operators.search import exact_search

        with self.tr.span("search", "exact_search"):
            hits = exact_search(emb, qv, k=fetch_k, id_col="idx", metric="ip")
            if k is not None:
                hits = hits.orderBy(F.col("score").desc(), F.col("idx").asc()).limit(k)
            hits = hits.persist()
            noop(hits)
        return hits

    def vector_traced(self, i):
        q = self.long_q[i % 64]
        qv = self._embed(q)
        hits = self._exact(self.spark.read.parquet(str(self.base / "embeddings")), qv, K, K)
        return q, self._assemble(hits)

    def filtered_traced(self, i):
        from leann_rs_spark import catalog
        from leann_rs_spark.operators.filter_dsl import compile_spark, parse

        q = self.long_q[(i + 17) % 64]
        passages = self.spark.read.parquet(str(self.base / "passages"))
        with self.tr.span("filter_dsl", "filter") as sp:
            kept = passages.filter(compile_spark(parse(self.filters[i % 64]))).select(
                "idx").persist()
            sp.counts["rows_kept"] = kept.count()
        sp.counts["rows_total"] = catalog.load_meta(str(self.wh), INDEX).passage_count
        qv = self._embed(q)
        emb = self.spark.read.parquet(str(self.base / "embeddings")).join(kept, "idx", "left_semi")
        # search_index fetches 5k rows for a filtered query, then cuts to k
        hits = self._exact(emb, qv, K * 5, K)
        kept.unpersist()
        return q, self._assemble(hits)

    def hybrid_traced(self, i):
        from pyspark.sql import functions as F

        from leann_rs_spark import catalog
        from leann_rs_spark.operators.bm25 import score_query, tokenize_py
        from leann_rs_spark.operators.hybrid import hybrid_rerank

        q = self.short_q[i % 64]
        qv = self._embed(q)
        fetch_k = K * 5
        vec = self._exact(self.spark.read.parquet(str(self.base / "embeddings")), qv, fetch_k)
        with self.tr.span("bm25", "score_query"):
            qb = sorted({catalog.py_term_bucket(t) for t in tokenize_py(q)})
            postings = self.spark.read.parquet(str(self.base / "bm25_postings")).filter(
                F.col("term_bucket").isin(qb))
            docstats = self.spark.read.parquet(str(self.base / "bm25_docstats"))
            termstats = postings.groupBy("term").agg(F.count("*").alias("df"))
            scored = score_query(postings, docstats, termstats, q, id_col="idx").persist()
            top = (scored.filter(F.col("score") > 0.0)
                   .orderBy(F.round(F.col("score"), 6).desc(), F.col("idx").asc())
                   .limit(fetch_k).persist())
            noop(top)
        with self.tr.span("hybrid", "hybrid_rerank"):
            combined = hybrid_rerank(
                vec.withColumnRenamed("idx", "doc_id"),
                scored.withColumnRenamed("idx", "doc_id"),
                top.withColumnRenamed("idx", "doc_id"), docstats, alpha=0.7)
            hits = (combined.select(F.col("doc_id").alias("idx"), F.col("combined").alias("score"))
                    .orderBy(F.col("score").desc(), F.col("idx").asc()).limit(K).persist())
            noop(hits)
        for df in (vec, scored, top):
            df.unpersist()
        return q, self._assemble(hits)

    def ivf_traced(self, i):
        from leann_rs_spark.operators.ann import ivf_search

        q = self.long_q[(i + 31) % 64]
        qv = self._embed(q)
        with self.tr.span("ann", "ivf_search"):
            hits = ivf_search(self.spark.read.parquet(str(self.base / "ivf")),
                              self.spark.read.parquet(str(self.base / "ivf_centroids")),
                              qv, k=K, nprobe=NPROBE, id_col="idx").persist()
            noop(hits)
        return q, self._assemble(hits)

    def postings_rows(self, q: str) -> int:
        """Rows of the BM25 postings scan for `q`: the rows of the query
        terms' term_bucket partitions, counted from their files."""
        from leann_rs_spark import catalog
        from leann_rs_spark.operators.bm25 import tokenize_py

        n = 0
        for b in {catalog.py_term_bucket(t) for t in tokenize_py(q)}:
            for f in (self.base / "bm25_postings" / f"term_bucket={b}").glob("*.parquet"):
                n += pq.ParquetFile(f).metadata.num_rows
        return n

    def run_op(self, kind: str, i: int) -> dict:
        fn = getattr(self, f"{kind}_traced", None) if self.trace else None
        fn = fn or getattr(self, kind)
        rec = {"kind": kind, "i": i, "ok": True}
        t0 = now()
        try:
            with self.tr.span("op", kind) as sp:
                rec["query"], rec["rows"] = fn(i)
        except Exception as exc:  # a failed op counts; the loop goes on
            traceback.print_exc()
            rec["ok"] = False
            rec["error"] = f"{kind} #{i}: {type(exc).__name__}: {exc}"
        rec["end"] = now()
        rec["t"] = rec["end"] - t0
        rec["span"] = sp
        if self.trace and kind == "hybrid" and rec["ok"]:
            # outside the op's span, so the count costs the op nothing
            rec["postings_rows_read"] = self.postings_rows(rec["query"])
        with self.lock:
            self.records.append(rec)
        return rec


def _check_search(res: Result, s: _Searcher, lay: Layout, pristine_n: int) -> None:
    """Check every op of the loop against numpy brute force over the
    final index's files. Appends run beside the queries, so a query may
    have read the pristine index or the index after any append: idx is
    dense and appends only add ids, so each version is `idx < n` for n
    the pristine passage count or one an append returned."""
    from leann_rs_spark import catalog

    versions = [pristine_n] + [r["rows"] for r in s.records
                               if r["kind"] == "append" and r["ok"]]
    everything = np.ones(len(lay.ids), dtype=bool)

    def brute_force(got: list[int], qv, mask=everything) -> bool:
        return any(lay.same_topk(got, lay.exact(qv, mask & (lay.ids < n)), qv)
                   for n in versions)

    for rec in s.records:
        kind = rec["kind"]
        if not rec["ok"]:
            res.op(False, rec["error"])
            continue
        if kind == "append":
            res.op(rec["rows"] > pristine_n, "append did not grow the index")
            continue
        if kind == "batch":
            ok = True
            for j, q in enumerate(rec["query"]):
                mine = sorted((r["rank"], r["idx"], r["score"]) for r in rec["rows"]
                              if r["query_id"] == j)
                got = [m[1] for m in mine]
                qv = qvec(q)
                ok &= np.allclose([m[2] for m in mine], [lay.score(g, qv) for g in got],
                                  rtol=0, atol=1e-9) and brute_force(got, qv)
            res.op(ok, f"batch #{rec['i']}: a top-{K} list != brute force")
            continue
        rows = rec["rows"]
        qv = qvec(rec["query"])
        got = [int(r["idx"]) for r in rows]
        sc = [float(r["score"]) for r in rows]
        ok = all((sc[j], -got[j]) >= (sc[j + 1], -got[j + 1]) for j in range(len(sc) - 1))
        # IVF returns fewer than k rows when the probed clusters hold fewer
        ok &= len(rows) == K or (kind == "ivf" and 0 < len(rows) < K)
        if kind in ("vector", "filtered", "ivf"):
            # scores are the exact inner products of the returned rows
            ok &= np.allclose(sc, [lay.score(g, qv) for g in got], rtol=0, atol=1e-9)
        if kind == "vector":
            ok &= brute_force(got, qv)
        elif kind == "filtered":
            want = s.filter_source(rec["i"])
            ok &= brute_force(got, qv, np.array([lay.source[int(x)] == want for x in lay.ids]))
        elif kind == "ivf":
            ok &= brute_force(got, qv, lay.probed(qv))
        res.op(ok, f"{kind} #{rec['i']}: result != brute force for {rec['query']!r}")

    if s.appended:
        # an appended passage, queried with its own text, is a rank-1 tie
        new = sorted(i for i in lay.text if i >= pristine_n)
        i = new[len(new) // 2]
        text = lay.text[i]
        rows = catalog.search_index(s.spark, str(s.wh), INDEX, text, k=K,
                                    hybrid=False).collect()
        top = rows[0]["score"] if rows else None
        tied = [int(r["idx"]) for r in rows if r["score"] == top]
        res.op(bool(rows) and (i in tied or (
            len(tied) == K and abs(lay.score(i, qvec(text)) - top) <= 1e-9)),
               f"appended passage {i} is not a rank-1 tie for its own text")


def _ivf_recall(res: Result, spark, lay: Layout, base: Path, queries: list[str]) -> float:
    """IVF recall@10 at nprobe=4: the program's IVF top-10 (one
    `ivf_search_batch` call over `queries`) against numpy's exact
    top-10. The program's lists must equal brute force over the probed
    clusters."""
    from leann_rs_spark.operators.ann import ivf_search_batch

    qvs = [qvec(q) for q in queries]
    qdf = spark.createDataFrame(list(enumerate(qvs)), "query_id int, query_vec array<double>")
    rows = ivf_search_batch(spark.read.parquet(str(base / "ivf")),
                            spark.read.parquet(str(base / "ivf_centroids")),
                            qdf, k=K, nprobe=NPROBE, id_col="idx").collect()
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(int(r["idx"]))
    hits = wrong = 0
    for j, qv in enumerate(qvs):
        mine = got.get(j, [])
        hits += len(set(mine) & set(lay.exact(qv)))
        wrong += not lay.same_topk(mine, lay.exact(qv, lay.probed(qv)), qv)
    res.op(wrong == 0, f"ivf_search_batch: {wrong} of {len(qvs)} top-{K} lists "
                       "!= brute force over the probed clusters")
    return hits / (len(qvs) * K)


def _probe_stats(lay: Layout, queries: list[str], base: Path) -> dict:
    """What nprobe=4 probes touch, from the index's files: the share of
    the exact top-10 lying in the probed clusters, and the rows and
    Parquet files of those clusters, per query."""
    probe_hits = cands = files = 0
    for q in queries:
        qv = qvec(q)
        mask = lay.probed(qv)
        probe_hits += sum(1 for e in lay.exact(qv) if mask[lay.pos[e]])
        cands += int(mask.sum())
        for c in np.unique(lay.cluster[mask]):
            d = base / "ivf" / f"cluster_id={c}"
            files += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    n = len(queries)
    return {"probe_hit_frac": probe_hits / (n * K), "candidates": cands / n, "files": files / n}


def search_mixed(run: Run, res: Result) -> None:
    wh = run.work / "wh"
    inputs = run.work / "inputs"
    corpus = gen.make_corpus(run.seed, SEARCH_DOCS, salt=20)
    path = write_docs(inputs / "corpus.parquet", corpus.docs)
    fresh = gen.make_corpus(run.seed, APPEND_DOCS * 8, id_start=10**9, salt=21)
    append_paths = [write_docs(inputs / f"append{j}.parquet",
                               fresh.docs[j * APPEND_DOCS:(j + 1) * APPEND_DOCS])
                    for j in range(8)]
    pristine = run.work / "pristine"
    built = {}

    def warm(spark):
        # The pristine index is built cold (that warms the write path,
        # which appends share); every query type then runs once, and
        # the measured loop starts on a fresh copy.
        shutil.rmtree(pristine, ignore_errors=True)
        t0 = now()
        built["n"] = _build(spark, str(pristine), path)
        built["s"] = now() - t0
        w = _Searcher(spark, Tracer(spark, False), pristine, run.seed, corpus, [])
        errors = []

        def run_all(kinds):
            try:
                for k in kinds:
                    getattr(w, k)(0)
            except Exception as exc:  # re-raised below, on the main thread
                errors.append(exc)

        threads = [threading.Thread(target=run_all, args=(ks,))
                   for ks in (("hybrid", "vector"), ("ivf", "filtered", "batch"))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(pristine, wh)

    spark = setup(run, res, warm)
    pristine_n = built["n"]

    tr = Tracer(spark, run.trace)
    s = _Searcher(spark, tr, wh, run.seed, corpus, append_paths)
    counter = iter(range(10**9))
    counter_lock = threading.Lock()
    t_end = now() + run.seconds

    def client():
        while now() < t_end:
            with counter_lock:
                i = next(counter)
            s.run_op(SCHEDULE[i % len(SCHEDULE)], i)

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    pristine_lay = Layout(pristine / INDEX)
    _check_built(res, pristine / INDEX, pristine_lay, corpus)
    lay = Layout(wh / INDEX)
    _check_search(res, s, lay, pristine_n)
    recall_q = gen.make_queries(run.seed, corpus, RECALL_QUERIES, short=False, salt=3)
    recall = _ivf_recall(res, spark, lay, wh / INDEX, recall_q)
    if run.trace:
        # the write path, one layer at a time, on the warm session; for
        # the timing spans only, the index it writes is not measured
        t0 = now()
        with tr.span("op", "build"):
            _build_traced(spark, tr, str(run.work / "traced"), path)
        res.detail["traced_build_s"] = (now() - t0, "s", 1)
        res.detail["untraced_build_s"] = (built["s"], "s", 1)
    spark.stop()

    recs = [r for r in s.records if r["ok"]]
    single = [r for r in recs if r["kind"] in SINGLE]
    lat = [r["t"] for r in single]
    by = {k: [r["t"] for r in recs if r["kind"] == k] for k in SCHEDULE}
    # Query throughput of the closed loop by Little's law: CLIENTS over
    # the mean single-query latency. A 15-s window holds ~15 queries
    # beside one ~10-s append and two 5-10-s hybrid queries, so a count of
    # the queries inside the window swings with how those few long ops
    # fall; the mean latency does not.
    res.e2e["op_p50_ms"] = (median(lat) * 1e3, "ms", len(lat))
    res.e2e["items_per_s"] = (CLIENTS * len(lat) / sum(lat) if lat else 0.0,
                              "queries/s", len(lat))
    res.e2e["recall"] = (recall, "ratio", RECALL_QUERIES * K)
    d = res.detail
    d["search_p50_ms"] = res.e2e["op_p50_ms"]
    if len(lat) >= 100:
        d["search_p90_ms"] = (float(np.percentile(lat, 90)) * 1e3, "ms", len(lat))
    # queries completed inside the window, an op straddling its end
    # counted by the share of it that fell inside
    in_window = sum(min(1.0, max(0.0, (t_end - (r["end"] - r["t"])) / r["t"])) for r in single)
    d["search_qps"] = (in_window / run.seconds, "queries/s", len(lat))
    for k in SINGLE:
        d[f"{k}_p50_ms"] = (median(by[k]) * 1e3, "ms", len(by[k]))
    d["batch_queries_per_s"] = (BATCH_QUERIES * len(by["batch"]) / sum(by["batch"])
                                if by["batch"] else 0.0, "queries/s", len(by["batch"]))
    d["append_docs_per_s"] = (APPEND_DOCS * len(by["append"]) / sum(by["append"])
                              if by["append"] else 0.0, "docs/s", len(by["append"]))
    d["ivf_recall_at_10"] = res.e2e["recall"]
    d["pristine_build_passages_per_s"] = (pristine_n / built["s"], "passages/s", 1)
    size, files = dir_stats(pristine / INDEX)  # the index build_index wrote
    d["index_bytes_per_input_byte"] = (size / corpus.text_bytes, "ratio", 1)
    if run.trace:
        L = res.layers
        L["catalog.bytes_written"] = size
        L["catalog.files_written"] = files
        L["catalog.ivf_files_after_appends"] = dir_stats(wh / INDEX / "ivf")[1]
        probes = _probe_stats(lay, recall_q, wh / INDEX)
        L["ann.candidates_per_query"] = probes["candidates"]
        L["ann.files_scanned_per_query"] = probes["files"]
        L["ann.probe_hit_frac"] = probes["probe_hit_frac"]
        L["bm25.postings_rows_read"] = median(
            [r["postings_rows_read"] for r in recs if r["kind"] == "hybrid"])
        _layer_metrics(res, tr, ops=1, query_ops=[r["span"] for r in single])


def _root(sp):
    while sp.parent is not None:
        sp = sp.parent
    return sp


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

def _curate_corpus(seed: int, salt: int, n: int) -> gen.Corpus:
    return gen.make_corpus(seed, n, exact_families=n // 40, near_families=n // 40,
                           low_quality=n // 40, salt=salt)


def _curate(spark, path: Path, out: Path) -> None:
    from leann_rs_spark.operators.curation import curate_corpus

    intermediates = []
    curate_corpus(spark.read.parquet(str(path)), intermediates=intermediates).write.mode(
        "overwrite").parquet(str(out))
    for df in intermediates:
        df.unpersist()


def _curate_traced(spark, tr: Tracer, path: Path, out: Path) -> dict:
    """curate_corpus's stages, one public call at a time, each
    materialized."""
    from leann_rs_spark.functions.textstats import gopher_keep
    from leann_rs_spark.operators.dedup import (
        dedup_keep_canonical,
        exact_dedup,
        minhash_near_dups,
    )
    from leann_rs_spark.operators.sampling import split_assign

    docs = spark.read.parquet(str(path))
    held = []

    def keep(df):
        held.append(df.persist())
        return held[-1]

    with tr.span("textstats", "gopher_keep"):
        q = keep(docs.withColumn("__keep", gopher_keep("text"))).filter("__keep").drop("__keep")
        noop(q)
    with tr.span("dedup", "exact_dedup"):
        canon = exact_dedup(q).filter("is_canonical").select("doc_id")
        q2 = keep(q.join(canon, "doc_id", "left_semi"))
        noop(q2)
    with tr.span("dedup", "minhash_near_dups"):
        pairs = keep(minhash_near_dups(q2, threshold=0.5, intermediates=held))
        pair_rows = pairs.collect()
    with tr.span("dedup", "dedup_keep_canonical"):
        kept = keep(dedup_keep_canonical(q2, pairs).filter("keep"))
        noop(kept)
    with tr.span("sampling", "split_assign"):
        split_assign(kept, "doc_id").drop("cluster_id", "keep").write.mode(
            "overwrite").parquet(str(out))
    return q2, pair_rows, held


def _curate_stats(q2, pair_rows, held) -> dict:
    """LSH candidate statistics of one traced curate call, from the
    public signature function; taken after the call's span closes (they
    describe the input, not a layer's time)."""
    from leann_rs_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(q2).select("doc_id", "sig").collect()
    for df in held:
        df.unpersist()
    stats = _lsh_stats(sigs)
    stats["verified_pairs"] = len(pair_rows)
    stats["cluster_rounds"] = _label_rounds([(r["id_a"], r["id_b"]) for r in pair_rows])
    return stats


# minhash_near_dups' defaults: 16 hashes in 4 bands of 4 rows
LSH_BANDS, LSH_ROWS = 4, 4


def _lsh_stats(sigs) -> dict:
    buckets: dict = {}
    for r in sigs:
        sig = r["sig"]
        for b in range(LSH_BANDS):
            band = tuple(sig[b * LSH_ROWS:(b + 1) * LSH_ROWS])
            buckets.setdefault((b, band), []).append(r["doc_id"])
    pairs = set()
    for members in buckets.values():
        members = sorted(members)
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                pairs.add((members[a], members[b]))
    return {"candidate_pairs": len(pairs),
            "max_bucket": max((len(m) for m in buckets.values()), default=0)}


def _label_rounds(pairs) -> int:
    """Rounds min-label propagation needs to converge on `pairs` (the
    algorithm of dedup.dedup_clusters, counted on the driver)."""
    if not pairs:
        return 0
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    lab = {v: min([v, *ns]) for v, ns in nbrs.items()}
    rounds = 1
    while True:
        new = {v: min([lab[v], *(lab[n] for n in ns)]) for v, ns in nbrs.items()}
        rounds += 1
        if new == lab:
            return rounds
        lab = new


def _check_curated(res: Result, out: Path, corpus: gen.Corpus) -> tuple[int, int]:
    """→ (planted duplicates removed, planted duplicates)."""
    ids = read_table(out).column("doc_id").to_pylist()
    res.op(len(ids) == len(set(ids)), f"{out.name}: duplicate ids in curated output")
    res.op(set(ids) <= {d[0] for d in corpus.docs}, f"{out.name}: unknown ids")
    kept = set(ids)
    for fam in corpus.exact_families:
        res.op(len(kept & set(fam)) == 1,
               f"{out.name}: exact family {sorted(fam)} kept {len(kept & set(fam))}")
    dups = corpus.planted_dups
    return sum(1 for d in dups if d not in kept), len(dups)


def curate(run: Run, res: Result) -> None:
    inputs = run.work / "inputs"
    n_shards = 2
    shards = [_curate_corpus(run.seed, 30 + i, CURATE_DOCS) for i in range(n_shards)]
    paths = [write_docs(inputs / f"shard{i}.parquet", c.docs) for i, c in enumerate(shards)]
    warm_path = write_docs(inputs / "warm.parquet", _curate_corpus(run.seed, 1, WARM_DOCS).docs)

    def warm(spark):
        _curate(spark, warm_path, run.work / "warm")

    spark = setup(run, res, warm)
    tr = Tracer(spark, run.trace)
    lat, done, stats = [], [], []
    t_end = now() + run.seconds
    while True:
        i = len(lat)
        out = run.work / "out" / f"c{i}"
        t0 = now()
        try:
            with tr.span("op", "curate"):
                if run.trace:
                    traced = _curate_traced(spark, tr, paths[i % n_shards], out)
                else:
                    _curate(spark, paths[i % n_shards], out)
            lat.append(now() - t0)
            if run.trace:
                stats.append(_curate_stats(*traced))
            done.append((out, shards[i % n_shards]))
            res.op(True)
        except Exception as exc:  # a failed op counts; the run goes on
            traceback.print_exc()
            lat.append(now() - t0)
            res.op(False, f"curate c{i}: {type(exc).__name__}: {exc}")
        if now() >= t_end:
            break
    spark.stop()
    removed = planted = docs = 0
    for out, corpus in done:
        r, p = _check_curated(res, out, corpus)
        removed += r
        planted += p
        docs += len(corpus.docs)
    res.e2e["op_p50_ms"] = (median(lat) * 1e3, "ms", len(lat))
    res.e2e["items_per_s"] = (docs / sum(lat), "docs/s", len(lat))
    res.e2e["recall"] = (removed / planted if planted else 0.0, "ratio", planted)
    res.detail["curate_docs_per_s"] = res.e2e["items_per_s"]
    res.detail["dup_recall"] = res.e2e["recall"]
    if run.trace:
        for k in ("candidate_pairs", "max_bucket", "cluster_rounds"):
            res.layers[f"dedup.{k}"] = float(np.mean([s[k] for s in stats])) if stats else 0.0
        cand = sum(s["candidate_pairs"] for s in stats)
        res.layers["dedup.verify_yield"] = (
            sum(s["verified_pairs"] for s in stats) / cand if cand else 0.0)
        _layer_metrics(res, tr, ops=len(lat))


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------

# Layers whose traced spans run Spark jobs. `session` (start-up) runs
# none, and `curation.curate_corpus` is traced as its stages' layers.
LAYERS = ["chunker", "embedder", "bm25", "catalog", "search", "ann",
          "hybrid", "filter_dsl", "dedup", "textstats", "sampling"]


def _layer_metrics(res: Result, tr: Tracer, ops: int, query_ops=()):
    L = res.layers
    spans = [sp for sp in tr.spans if sp.layer != "op"]
    by = tr.by_layer(spans)

    def named(layer, name):
        return [sp for sp in spans if sp.layer == layer and sp.name == name]

    def self_s(layer, name=None):
        return sum(sp.self_s for sp in spans
                   if sp.layer == layer and (name is None or sp.name == name))

    per_op = max(ops, 1)
    L["chunker.busy_s"] = self_s("chunker") / per_op
    L["chunker.passages_out"] = by["chunker"].get("passages_out", 0.0) / per_op
    emb_build = [sp for sp in spans if sp.layer == "embedder" and sp.name != "query_embed"]
    L["embedder.busy_s"] = sum(sp.self_s for sp in emb_build) / per_op
    L["embedder.task_cpu_s"] = sum(sp.spark["cpu_s"] for sp in emb_build) / per_op
    qe = named("embedder", "query_embed")
    L["embedder.query_embed_ms"] = median([sp.self_s for sp in qe]) * 1e3
    L["bm25.build_busy_s"] = self_s("bm25", "build_bm25_index") / per_op
    L["bm25.postings_rows"] = by["bm25"].get("postings_rows", 0.0) / per_op
    sq = named("bm25", "score_query")
    L["bm25.score_busy_ms"] = median([sp.self_s for sp in sq]) * 1e3
    L.setdefault("bm25.postings_rows_read", 0.0)
    L.setdefault("catalog.bytes_written", 0.0)
    L.setdefault("catalog.files_written", 0.0)
    L.setdefault("catalog.ivf_files_after_appends", 0.0)
    km = named("ann", "kmeans_centroids")
    L["ann.kmeans_busy_s"] = sum(sp.self_s for sp in km) / per_op
    L["ann.kmeans_jobs"] = sum(sp.spark["jobs"] for sp in km) / per_op
    L["ann.assign_busy_s"] = self_s("ann", "ivf_assign") / per_op
    L["ann.search_busy_ms"] = median([sp.self_s for sp in named("ann", "ivf_search")]) * 1e3
    for k in ("ann.candidates_per_query", "ann.files_scanned_per_query", "ann.probe_hit_frac"):
        L.setdefault(k, 0.0)
    ex = named("search", "exact_search")
    L["search.exact_busy_ms"] = median([sp.self_s for sp in ex]) * 1e3
    L["search.input_bytes_per_query"] = median([sp.spark["input_bytes"] for sp in ex])
    bs = named("search", "batch_search")
    L["search.batch_busy_s"] = median([sp.self_s for sp in bs])
    L["hybrid.rerank_busy_ms"] = median([sp.self_s for sp in named("hybrid", "hybrid_rerank")]) * 1e3
    fl = named("filter_dsl", "filter")
    L["filter_dsl.rows_kept_frac"] = (
        sum(sp.counts["rows_kept"] for sp in fl) / sum(sp.counts["rows_total"] for sp in fl)
        if fl else 0.0)
    if query_ops:
        query_spans = [sp for sp in tr.spans if _root(sp) in query_ops]
        jobs = [sum(sp.spark["jobs"] for sp in query_spans if _root(sp) is op) for op in query_ops]
        tasks = [sum(sp.spark["tasks"] for sp in query_spans if _root(sp) is op)
                 for op in query_ops]
        driver = [op.wall_s - sum(sp.spark["job_s"] for sp in query_spans if _root(sp) is op)
                  for op in query_ops]
        L["query.jobs"] = median(jobs)
        L["query.tasks"] = median(tasks)
        L["query.driver_s"] = median(driver)
    else:
        L["query.jobs"] = L["query.tasks"] = L["query.driver_s"] = 0.0
    L["textstats.gopher_busy_s"] = self_s("textstats") / per_op
    L["dedup.exact_busy_s"] = self_s("dedup", "exact_dedup") / per_op
    L["dedup.minhash_busy_s"] = (self_s("dedup", "minhash_near_dups")
                                 + self_s("dedup", "dedup_keep_canonical")) / per_op
    for k in ("dedup.candidate_pairs", "dedup.verify_yield", "dedup.max_bucket",
              "dedup.cluster_rounds"):
        L.setdefault(k, 0.0)
    L["sampling.split_busy_s"] = self_s("sampling") / per_op
    for layer in LAYERS:
        agg = by.get(layer, {})
        L[f"{layer}.gc_s"] = agg.get("gc_s", 0.0) / per_op
        L[f"{layer}.shuffle_bytes"] = agg.get("shuffle_bytes", 0.0) / per_op
        L[f"{layer}.spill_bytes"] = agg.get("spill_bytes", 0.0) / per_op
    # self-time share of every layer within each kind of operation, for
    # the design check; "(op)" is the operation's own time outside
    # every layer span
    groups: dict = {}
    for sp in tr.spans:
        root = _root(sp)
        kind = "query" if root.name in SINGLE else root.name
        layer = "(op)" if sp is root else sp.layer
        g = groups.setdefault(kind, {})
        g[layer] = g.get(layer, 0.0) + sp.self_s
    for kind, g in groups.items():
        total = sum(g.values()) or 1.0
        res.detail[f"self_share.{kind}"] = (
            {k: round(v / total, 3) for k, v in sorted(g.items(), key=lambda kv: -kv[1])},
            "share", round(total, 2))


WORKLOADS = {"search_mixed": search_mixed, "curate": curate}

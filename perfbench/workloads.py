"""The workloads. Each runs the phases ``Ingest`` (the write path) and
``Serve`` (a closed-loop client on the read side) in one process, so
every run reports every end-to-end metric; ``ingest`` repeats the write
path for the measured window, ``serve`` the read loop. Traced runs add
``Batch`` (bulk similarity join and near-dup grouping), whose layers
are reported per layer only.

Each phase class has ``setup`` (generate inputs, and for ``Serve``
build the stores), ``warmup``, ``measure`` (end-to-end metrics, tracing
off) and ``traced`` (per-layer metrics). Every engine call goes through
the package's public functions; layers are timed from here.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from pdf_using_hugging_face_and_vector_database_spark.caching import release_caches
from pdf_using_hugging_face_and_vector_database_spark.functions.vector import cosine
from pdf_using_hugging_face_and_vector_database_spark.io import write_vectors
from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
    append_ivf_index,
    build_ivf_index,
    int8_codes_col,
    int8_codes_of,
    nearest_cells,
    probe_ivf_index,
    quantized_candidates,
    quantized_rerank_topk,
)
from pdf_using_hugging_face_and_vector_database_spark.operators.chunker import chunk_stride
from pdf_using_hugging_face_and_vector_database_spark.operators.dedup import (
    minhash_signatures_agg,
    neardup_representatives,
)
from pdf_using_hugging_face_and_vector_database_spark.operators.embedder import (
    embed_deterministic,
)
from pdf_using_hugging_face_and_vector_database_spark.operators.ids import (
    with_metadata,
    with_vector_id,
)
from pdf_using_hugging_face_and_vector_database_spark.operators.pages import concat_pages
from pdf_using_hugging_face_and_vector_database_spark.operators.search import (
    knn_join,
    mmr_select,
    partial_topk_per_partition,
    topk_cosine,
)
from pdf_using_hugging_face_and_vector_database_spark.operators.upsert import upsert
from pdf_using_hugging_face_and_vector_database_spark.sources.binaryfile import read_pdf_dir
from pdf_using_hugging_face_and_vector_database_spark.sources.pdf import parse_pdf_pages
from pdf_using_hugging_face_and_vector_database_spark.store import read_marker

from . import checks, gen
from .stats import nearest_rank, prefix_self_times, tail_percentile
from .trace import COUNT_KEYS

DIM = gen.DIM
K = 10
IVF_CELLS = 8
# seeded centroids without Lloyd refinement: one refinement iteration adds
# about 8 s of plan compilation to the first build in a process
IVF_ITERS = 0
NPROBE = 4
CAND_K = 50
RAG_POOL = 30
MINHASH_HASHES = 16
MINHASH_BANDS = 4
WORD_NGRAM = 3
TRACE_REPEATS = 3


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _repeat(step, seconds: float, min_samples: int) -> list:
    """Run ``step`` until ``seconds`` have passed and ``min_samples`` times."""
    out = []
    t0 = time.perf_counter()
    while len(out) < min_samples or time.perf_counter() - t0 < seconds:
        out.append(step())
    return out


def _layer_metrics(name: str, self_s: float, counts: dict) -> dict:
    return {
        f"{name}.self_s": (self_s, "s"),
        f"{name}.jobs": (counts.get("jobs", 0), "count"),
        f"{name}.tasks": (counts.get("tasks", 0), "count"),
        f"{name}.cpu_s": (counts.get("cpu_sec", 0.0), "s"),
        f"{name}.shuffle_mb": (counts.get("shuffle_write_mb", 0.0), "MB"),
    }


def _median_counts(recs: list[dict]) -> dict:
    return {k: statistics.median(r.get(k, 0) for r in recs) for k in COUNT_KEYS}


def _sub_counts(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) - b.get(k, 0) for k in a}


class Workload:
    """Shared state: the run (session, scratch, seed, check log), the
    input sizes and the sample counts behind the metrics. A phase
    measures at least ``min_samples`` blocks or passes; a traced phase
    repeats its passes ``trace_repeats`` times."""

    def __init__(self, run, min_samples: int = 1, trace_repeats: int = TRACE_REPEATS):
        self.run = run
        self.min_samples = min_samples
        self.trace_repeats = trace_repeats
        self.sizes: dict = {}
        self.samples: dict = {}

    @property
    def spark(self):
        return self.run.spark

    def verify(self, errs: list[str]) -> None:
        """Count one checked operation; it failed if ``errs`` is non-empty."""
        self.run.attempted += 1
        self.run.failed += bool(errs)
        self.run.failures += errs


# ------------------------------------------------------------------ ingest


FULL_GLOB = "doc_*.pdf"


class Ingest(Workload):
    """PDF landing dir -> chunks -> 384-d embeddings -> stored vectors,
    then an IVF build and an upsert of a re-ingested slice."""

    N_PDFS = 32
    REPEATS_PER_PASS = 2  # builds and upserts are short: time each twice a pass
    SLICE_GLOB = "doc_*[05].pdf"  # doc ids ending in 0 or 5: a 20% slice
    LAYERS = ("sources", "pages", "chunker", "embedder", "ids", "ann.codes")

    def setup(self, d: str) -> None:
        self.landing = os.path.join(d, "landing")
        truth = gen.write_pdf_landing(self.landing, gen.pdf_documents(self.run.seed, self.N_PDFS))
        per_doc = truth.pop("chunks_per_doc")
        self.expected_rows = sum(per_doc.values())
        self.expected_slice = sum(n for i, n in per_doc.items() if i % 5 == 0)
        self.sizes = {**truth, "chunks": self.expected_rows, "slice_chunks": self.expected_slice}
        self.out = d
        self._n = 0

    def chain(self, glob: str, version: int) -> list[tuple[str, object]]:
        """The lazy write chain as (layer, DataFrame after that layer)."""
        spark = self.spark
        binary = read_pdf_dir(spark, self.landing, glob).select(
            F.regexp_extract("path", r"doc_(\d+)\.pdf$", 1).cast("long").alias("doc_id"),
            "content",
        )
        pages = parse_pdf_pages(binary)
        docs = concat_pages(pages)
        chunks = chunk_stride(docs, chunk_size=gen.CHUNK_SIZE, chunk_overlap=gen.CHUNK_OVERLAP)
        emb = embed_deterministic(chunks, dim=DIM)
        vec = with_metadata(
            with_vector_id(emb.withColumn("source", F.lit("uploaded_pdf")))
        ).withColumn("ingest_version", F.lit(version))
        coded = vec.select(
            "id", "doc_id", "chunk_index", "source", "metadata", "ingest_version",
            "embedding", int8_codes_col("embedding"),
        )
        return list(zip(self.LAYERS, (pages, docs, chunks, emb, vec, coded)))

    def _dirs(self) -> dict:
        self._n += 1
        base = os.path.join(self.out, f"pass{self._n}")
        shutil.rmtree(os.path.join(self.out, f"pass{self._n - 1}"), ignore_errors=True)
        return {k: os.path.join(base, k) for k in ("store", "ivf", "merged")}

    def _check_store(self, path: str, expected: int) -> int:
        norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
        r = self.spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("d"),
            F.max(F.abs(norm - F.lit(1.0))).alias("dev"),
        ).head()
        self.verify(checks.check_ingest_store(r["n"], r["d"], r["dev"], expected))
        return r["n"]

    def _check_merged(self, path: str, rows_before: int) -> None:
        r = self.spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("d"),
            F.sum(F.when(F.col("ingest_version") == 2, 1).otherwise(0)).alias("v2"),
        ).head()
        self.verify(
            checks.check_upsert(rows_before, r["n"], r["d"], r["v2"], self.expected_slice)
        )

    def _write(self, path: str, glob: str, version: int) -> None:
        write_vectors(self.chain(glob, version)[-1][1], path)

    def _build(self, store: str, out: str) -> None:
        build_ivf_index(
            self.spark.read.parquet(store), out, n_cells=IVF_CELLS, iters=IVF_ITERS, dim=DIM
        )

    def _upsert(self, store: str, out: str) -> None:
        merged = upsert(
            self.spark.read.parquet(store), self.spark.read.parquet(self.batch),
            id_col="id", version_col="ingest_version",
        )
        write_vectors(merged, out)

    def one_pass(self, repeats: int = 1, tracer=None) -> dict:
        """One pass: write chain, then ``repeats`` index builds and
        ``repeats`` upserts of the re-ingested slice, each into its own
        output. Returns each step's durations (spans under one root span
        with a tracer)."""
        p = self._dirs()
        steps = [("io.write", lambda: self._write(p["store"], FULL_GLOB, 1))]
        steps += [("ann.build", lambda i=i: self._build(p["store"], f"{p['ivf']}{i}")) for i in range(repeats)]
        steps += [("upsert", lambda i=i: self._upsert(p["store"], f"{p['merged']}{i}")) for i in range(repeats)]
        out: dict = {}
        if tracer is None:
            t0 = time.perf_counter()
            for name, fn in steps:
                out.setdefault(name, []).append(_timed(fn)[0])
            out["root_s"] = time.perf_counter() - t0
        else:
            with tracer.span("ingest.pass") as root:
                for name, fn in steps:
                    with tracer.span(name, counts=True) as s:
                        fn()
                    out.setdefault(name, []).append(s)
            out["root"] = root
        out["rows"] = self._check_store(p["store"], self.expected_rows)
        for i in range(repeats):
            self._check_merged(f"{p['merged']}{i}", out["rows"])
        out["bytes"] = _du(p["store"]) + _du(f"{p['ivf']}0")
        return out

    def warmup(self) -> None:
        """Write the re-ingested slice every upsert merges (the same
        PDFs again, at version 2), then build an index on it and upsert
        it into itself, so that every step of a pass has run once."""
        self.batch = os.path.join(self.out, "slice")
        self._write(self.batch, self.SLICE_GLOB, 2)
        self._build(self.batch, os.path.join(self.out, "warm_ivf"))
        self._upsert(self.batch, os.path.join(self.out, "warm_merged"))

    def measure(self, seconds: float) -> dict:
        passes = _repeat(
            lambda: self.one_pass(repeats=self.REPEATS_PER_PASS), seconds, self.min_samples
        )
        self.samples = {"passes": len(passes)}
        med = statistics.median
        return {
            "ingest_chunks_per_s": (med(p["rows"] / p["io.write"][0] for p in passes), "chunks/s"),
            "index_build_s": (med(dt for p in passes for dt in p["ann.build"]), "s"),
            "upsert_rows_per_s": (
                med(p["rows"] / dt for p in passes for dt in p["upsert"]), "rows/s"
            ),
            "store_bytes_per_vector": (med(p["bytes"] / p["rows"] for p in passes), "B"),
        }

    def traced(self, tracer, seconds: float) -> dict:
        """Prefix subtraction for the lazy chain; direct spans for the
        eager steps; one untraced pass for the tracing overhead."""
        prefix = {name: [] for name in self.LAYERS}
        for _ in range(self.trace_repeats):
            for name, df in self.chain(FULL_GLOB, 1):
                with tracer.span(f"prefix.{name}", counts=True) as s:
                    _noop(df)
                prefix[name].append(s)
        med_t = [
            (n, statistics.median(s["end"] - s["start"] for s in prefix[n])) for n in self.LAYERS
        ]
        self_s = prefix_self_times(med_t)
        counts, prev = {}, None
        for n in self.LAYERS:
            c = _median_counts(prefix[n])
            counts[n] = c if prev is None else _sub_counts(c, prev)
            prev = c
        untraced_s = self.one_pass()["root_s"]
        tp = self.one_pass(tracer=tracer)
        write = tp["io.write"][0]
        self_s["io.write"] = write["end"] - write["start"] - med_t[-1][1]
        counts["io.write"] = _sub_counts(_median_counts([write]), prev)
        for n in ("ann.build", "upsert"):
            self_s[n] = tp[n][0]["end"] - tp[n][0]["start"]
            counts[n] = _median_counts(tp[n])
        sessions = tracer.by_name("session")
        self_s["session"] = statistics.median(s["end"] - s["start"] for s in sessions)
        counts["session"] = {}
        root = tp["root"]
        wall = self_s["session"] + root["end"] - root["start"]
        out = {}
        for n in ("session", *self.LAYERS, "io.write", "ann.build", "upsert"):
            out.update(_layer_metrics(n, self_s[n], counts[n]))
        out["io.write.bytes_per_vector"] = (
            _du(os.path.join(self.out, f"pass{self._n}", "store")) / tp["rows"], "B"
        )
        out["trace.overhead_s"] = (root["end"] - root["start"] - untraced_s, "s")
        out["trace.unattributed_s"] = (wall - sum(self_s.values()), "s")
        self.samples = {"traced_wall_s": wall}
        return out


# ------------------------------------------------------------------- serve


class Serve(Workload):
    """Closed loop, one client, over a store built in setup. Ops run in
    blocks of ten with a fixed mix: two appends (each followed by a
    probe for one appended vector), two exact reads, one filtered read,
    one IVF probe, one int8 rerank and one RAG read; two of those six
    reads repeat an earlier query vector."""

    N = 256
    WRITE_BATCH = 8
    N_LABELS = 4
    BLOCK = ("write", "write", "topk", "topk", "topk_filter", "probe", "rerank", "rag")
    REPEATS_PER_BLOCK = 2

    def setup(self, d: str) -> None:
        ids, labels, x = gen.clustered_vectors(self.run.seed, self.N, n_labels=self.N_LABELS)
        corpus = os.path.join(d, "corpus")
        in_bytes = gen.write_vector_parquet(corpus, ids, labels, x)
        self.store, self.codes, self.ivf = (os.path.join(d, n) for n in ("store", "codes", "ivf"))
        write_vectors(self.spark.read.parquet(corpus), self.store)
        emb = self.spark.read.parquet(self.store)
        write_vectors(int8_codes_of(emb, extra_cols=("label",)), self.codes)
        build_ivf_index(emb, self.ivf, n_cells=IVF_CELLS, iters=IVF_ITERS, dim=DIM)
        self.ids, self.labels, self.x = ids, labels, x
        self.sizes = {"vectors": self.N, "dim": DIM, "corpus_bytes": in_bytes}
        self.appended: dict[int, np.ndarray] = {}
        self.rng = np.random.default_rng([self.run.seed, 10])
        self.history: list[np.ndarray] = []

    # --- ops: each returns what the checks need
    def _qdf(self, q):
        return self.spark.createDataFrame([(q.tolist(),)], "qv array<double>")

    def op_topk(self, q, label=None):
        pred = None if label is None else F.col("label") == label
        rows = topk_cosine(self.spark.read.parquet(self.store), q.tolist(), K, predicate=pred).collect()
        return [(r["vec_id"], r["score"]) for r in rows]

    def op_probe(self, q):
        rows = probe_ivf_index(self.spark, self.ivf, q.tolist(), K, nprobe=NPROBE).collect()
        return [(r["vec_id"], r["score"]) for r in rows]

    def op_rerank(self, q):
        rows = quantized_rerank_topk(
            self.spark.read.parquet(self.store), self._qdf(q), K, CAND_K,
            codes=self.spark.read.parquet(self.codes),
        ).collect()
        return [(r["vec_id"], r["score"]) for r in rows]

    def op_rag(self, q):
        qdf = self._qdf(q)
        cands = quantized_candidates(self.spark.read.parquet(self.codes), qdf, cand_k=RAG_POOL)
        pool = (
            self.spark.read.parquet(self.store)
            .join(F.broadcast(cands.select("vec_id")), "vec_id")
            .crossJoin(F.broadcast(qdf))
            .select("vec_id", "embedding", F.round(cosine("embedding", "qv"), 9).alias("simq"))
        )
        try:
            return [(r[1], r[2]) for r in mmr_select(pool, K)]
        finally:
            release_caches()

    def op_write(self, vecs: np.ndarray, tag: str):
        base = 10**6 + len(self.appended)
        rows = [(base + i, "L0", v.tolist()) for i, v in enumerate(vecs)]
        df = self.spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
        try:
            n = append_ivf_index(self.spark, self.ivf, df, tag)
        finally:
            release_caches()
        return n, [r[0] for r in rows]

    # --- schedule
    def _query(self, repeat: bool) -> np.ndarray:
        if repeat and self.history:
            return self.history[int(self.rng.integers(len(self.history)))]
        q = gen.near_queries(self.rng, self.x, 1)[0]
        self.history.append(q)
        return q

    def block(self) -> list[tuple]:
        """One block of ops as (kind, args) in seeded order."""
        kinds = list(self.BLOCK)
        self.rng.shuffle(kinds)
        reads = [i for i, k in enumerate(kinds) if k != "write"]
        rep = set(self.rng.choice(reads, self.REPEATS_PER_BLOCK, replace=False).tolist())
        ops = []
        for i, k in enumerate(kinds):
            if k == "write":
                v = gen.near_queries(self.rng, self.x, self.WRITE_BATCH)
                ops.append(("write", v))
                ops.append(("ryw", None))
            else:
                q = self._query(i in rep)
                label = f"L{int(self.rng.integers(self.N_LABELS))}" if k == "topk_filter" else None
                ops.append((k, q, label))
        return ops

    def _exact_ids(self, q, with_appended=False):
        x, ids = self.x, self.ids
        if with_appended and self.appended:
            x = np.vstack([x, np.array(list(self.appended.values()))])
            ids = np.concatenate([ids, np.array(list(self.appended), dtype=np.int64)])
        return checks.exact_topk(x, ids, q, K)[0]

    def run_op(self, op, tracer=None) -> tuple[str, float]:
        """Run and check one op; returns (kind, latency in seconds)."""
        kind = op[0]
        if kind == "write":
            self._last_write = op[1]
            tag = f"w{len(self.appended)}"
            dt, (n, new_ids) = self._call("ann.append", lambda: self.op_write(op[1], tag), tracer)
            self.appended.update(zip(new_ids, op[1]))
            self._last_ids = new_ids
            self.verify([] if n == len(new_ids) else [f"append: {n} rows, expected {len(new_ids)}"])
            return kind, dt
        if kind == "ryw":
            pick = int(self.rng.integers(len(self._last_ids)))
            q = self._last_write[pick]
            dt, got = self._call("ann.probe", lambda: self.op_probe(q), tracer, q=q)
            self.verify(checks.check_rank1([g[0] for g in got], self._last_ids[pick], "read-your-write"))
            self.verify(self._scores(got, q, "probe"))
            self.recalls.setdefault("ivf", []).append(
                checks.recall([g[0] for g in got], self._exact_ids(q, with_appended=True))
            )
            return "probe", dt
        q, label = op[1], op[2]
        layer = {"topk": "search.topk", "topk_filter": "search.topk", "probe": "ann.probe",
                 "rerank": "ann.rerank", "rag": "search.mmr"}[kind]
        fn = {
            "topk": lambda: self.op_topk(q),
            "topk_filter": lambda: self.op_topk(q, label),
            "probe": lambda: self.op_probe(q),
            "rerank": lambda: self.op_rerank(q),
            "rag": lambda: self.op_rag(q),
        }[kind]
        dt, got = self._call(layer, fn, tracer, q=q)
        ids = [g[0] for g in got]
        if kind in ("topk", "topk_filter"):
            mask = None if label is None else self.labels == label
            self.verify(checks.check_topk(ids, [g[1] for g in got], self.x, self.ids, q, K, kind, mask))
        elif kind == "probe":
            self.verify(self._scores(got, q, "probe"))
            self.recalls.setdefault("ivf", []).append(checks.recall(ids, self._exact_ids(q, with_appended=True)))
        elif kind == "rerank":
            self.verify(self._scores(got, q, "rerank"))
            self.recalls.setdefault("int8", []).append(checks.recall(ids, self._exact_ids(q)))
        else:
            # mmr reports the 9-dp rounded query similarity
            errs = self._scores(got, q, "rag", tol=1e-9 + 5e-10)
            self.verify(errs if len(got) == K else errs + [f"rag: {len(got)} results"])
        return kind, dt

    def _scores(self, got, q, what, tol=checks.TOL):
        vec_of = dict(zip(self.ids.tolist(), self.x))
        vec_of.update(self.appended)
        return checks.check_scores_exact([g[0] for g in got], [g[1] for g in got], vec_of, q, what, tol)

    def _call(self, layer, fn, tracer, q=None):
        if tracer is None:
            return _timed(fn)
        with tracer.span(layer, counts=True) as s:
            out = fn()
        if q is not None and layer in ("ann.probe", "ann.rerank"):
            s.update(self._scan_counts(layer, q))
        return s["end"] - s["start"], out

    def _scan_counts(self, layer, q) -> dict:
        """Files and rows a probe or rerank reads, from parquet footers."""
        import glob as _glob

        import pyarrow.parquet as pq

        if layer == "ann.probe":
            meta = read_marker(os.path.join(self.ivf, "centroids.json"))
            cells = nearest_cells(meta["centroids"], q.tolist(), NPROBE)
            files = [
                f for c in cells
                for f in _glob.glob(os.path.join(self.ivf, "assigned", f"cell={c}", "*.parquet"))
            ]
            return {"files": len(files), "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}
        cand = {
            r["vec_id"]
            for r in quantized_candidates(
                self.spark.read.parquet(self.codes), self._qdf(q), cand_k=CAND_K
            ).collect()
        }
        rows = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _glob.glob(os.path.join(self.codes, "*.parquet"))
        )
        for f in _glob.glob(os.path.join(self.store, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            col = md.schema.names.index("vec_id")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col).statistics
                if any(st.min <= c <= st.max for c in cand):
                    rows += md.row_group(g).num_rows
        return {"rows": rows}

    def warmup(self) -> None:
        """One op of each kind; filtered reads and read-your-write probes
        share the exact-read and probe paths."""
        self.recalls = {}
        seen = {"topk_filter", "ryw"}
        for op in self.block():
            if op[0] not in seen:
                seen.add(op[0])
                self.run_op(op)

    def loop(self, seconds: float, tracer=None, min_blocks: int = 1) -> tuple[list, float]:
        """Whole blocks until ``seconds`` have passed and ``min_blocks`` ran."""
        self.recalls = {}
        done = []
        t0 = time.perf_counter()
        blocks = 0
        while blocks < min_blocks or time.perf_counter() - t0 < seconds:
            for op in self.block():
                done.append(self.run_op(op, tracer))
            blocks += 1
        return done, time.perf_counter() - t0

    def measure(self, seconds: float) -> dict:
        done, wall = self.loop(seconds, min_blocks=self.min_samples)
        reads = [dt * 1e3 for k, dt in done if k != "write"]
        writes = [dt * 1e3 for k, dt in done if k == "write"]
        rec = self.recalls.get("ivf", []) + self.recalls.get("int8", [])
        self.samples = {
            "reads": len(reads), "writes": len(writes), "reads_ms": reads,
            "read_tail_ms": tail_percentile(reads),
        }
        return {
            "read_p50_ms": (statistics.median(reads), "ms"),
            "read_p90_ms": (nearest_rank(reads, 90), "ms"),
            "write_p50_ms": (statistics.median(writes), "ms"),
            "serve_ops_per_s": (len(done) / wall, "ops/s"),
            "recall_at_10": (statistics.mean(rec), "ratio"),
        }

    def traced(self, tracer, seconds: float) -> dict:
        start = len(tracer.spans)
        done, wall = self.loop(seconds, tracer)
        spans = tracer.spans[start:]
        recalls = self.recalls
        _, untraced = self.loop(0)
        self.recalls = recalls
        out = {}
        for layer in ("search.topk", "ann.probe", "ann.rerank", "search.mmr", "ann.append"):
            recs = [s for s in spans if s["name"] == layer]
            out.update(_layer_metrics(layer, statistics.median(tracer.self_time(s) for s in recs), {
                k: statistics.mean(s.get(k, 0) for s in recs) for k in COUNT_KEYS
            }))
        read_spans = [s for s in spans if s["name"] != "ann.append"]
        probes = [s for s in spans if s["name"] == "ann.probe"]
        reranks = [s for s in spans if s["name"] == "ann.rerank"]
        blocks = len(done) / (len(self.BLOCK) + 2)
        out.update({
            "serve.jobs_per_read": (sum(s["jobs"] for s in read_spans) / len(read_spans), "count"),
            "ann.probe.files_read": (statistics.mean(s["files"] for s in probes), "count"),
            "ann.probe.rows_scanned_per_result": (statistics.mean(s["rows"] for s in probes) / K, "rows"),
            "ann.rerank.rows_scanned_per_result": (statistics.mean(s["rows"] for s in reranks) / K, "rows"),
            "ann.ivf_recall_at_10": (statistics.mean(self.recalls["ivf"]), "ratio"),
            "ann.int8_recall_at_10": (statistics.mean(self.recalls["int8"]), "ratio"),
            "trace.overhead_s": (wall / blocks - untraced, "s"),
            "trace.unattributed_s": (wall - sum(tracer.self_time(s) for s in spans), "s"),
        })
        self.samples = {"ops": len(done), "traced_wall_s": wall}
        return out


# ------------------------------------------------------------------- batch


class Batch(Workload):
    """``knn_join`` of Q queries against a clustered corpus, then MinHash
    signatures and near-dup groups over documents with injected
    truncated duplicates."""

    N_CORPUS = 384
    N_QUERIES = 16
    N_DOCS = 300
    N_DUPS = 30

    def setup(self, d: str) -> None:
        ids, _labels, x = gen.clustered_vectors(self.run.seed, self.N_CORPUS, stream=4)
        qrng = np.random.default_rng([self.run.seed, 5])
        queries = gen.near_queries(qrng, x, self.N_QUERIES)
        self.corpus, self.queries, self.docs = (os.path.join(d, n) for n in ("corpus", "queries", "docs"))
        b1 = gen.write_vector_parquet(self.corpus, ids, None, x)
        b2 = gen.write_vector_parquet(
            self.queries, np.arange(self.N_QUERIES, dtype=np.int64), None, queries,
            n_files=1, id_col="query_id", vec_col="query_embedding",
        )
        doc_ids, texts, self.pairs = gen.neardup_documents(self.run.seed, self.N_DOCS, self.N_DUPS)
        b3 = gen.write_documents_parquet(self.docs, doc_ids, texts)
        self.x, self.ids, self.q = x, ids, queries
        self.n_docs = len(doc_ids)
        self.sizes = {
            "corpus": self.N_CORPUS, "queries": self.N_QUERIES, "dim": DIM,
            "docs": self.n_docs, "injected_pairs": len(self.pairs),
            "bytes": b1 + b2 + b3,
        }
        self.out = d
        self._n = 0

    def knn(self):
        rows = knn_join(
            self.spark.read.parquet(self.queries), self.spark.read.parquet(self.corpus), k=K
        ).collect()
        got: dict = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
        return got

    def signatures(self):
        return minhash_signatures_agg(
            self.spark.read.parquet(self.docs), num_hashes=MINHASH_HASHES,
            ngram=WORD_NGRAM, shingle="word",
        )

    def groups(self, scratch: str):
        labels = neardup_representatives(
            self.signatures(), num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
            nodes=self.spark.read.parquet(self.docs).select("doc_id"), scratch_dir=scratch,
        ).collect()
        return {r["doc_id"]: r["group_rep"] for r in labels}

    def _scratch(self) -> str:
        self._n += 1
        shutil.rmtree(os.path.join(self.out, f"cc{self._n - 1}"), ignore_errors=True)
        return os.path.join(self.out, f"cc{self._n}")

    def _check(self, got, reps) -> None:
        self.verify(checks.check_knn(got, self.x, self.ids, self.q, K))
        self.verify(checks.check_groups(reps, self.pairs))
        self.verify([] if len(reps) == self.n_docs else [f"dedup: {len(reps)} labels for {self.n_docs} docs"])

    def one_pass(self) -> tuple[float, float]:
        t_knn, got = _timed(self.knn)
        t_dd, reps = _timed(lambda: self.groups(self._scratch()))
        self._check(got, reps)
        return t_knn, t_dd

    def warmup(self) -> None:
        self.one_pass()

    def measure(self, seconds: float) -> dict:
        passes = _repeat(self.one_pass, seconds, self.min_samples)
        self.samples = {"passes": len(passes)}
        pairs = self.N_QUERIES * self.N_CORPUS
        return {
            "knn_pairs_per_s": (statistics.median(pairs / a for a, _ in passes), "pairs/s"),
            "dedup_docs_per_s": (statistics.median(self.n_docs / b for _, b in passes), "docs/s"),
        }

    def traced(self, tracer, seconds: float) -> dict:
        import pyspark.sql

        rounds: list[str] = []
        base_obs = pyspark.sql.Observation

        class CountingObservation(base_obs):
            def __init__(self, *a, **kw):
                super().__init__(*a, **kw)
                rounds.append(a[0] if a else "")

        knn, sigs, full, roots = [], [], [], []
        for _ in range(self.trace_repeats):
            with tracer.span("prefix.dedup.signatures", counts=True) as s:
                _noop(self.signatures())
            sigs.append(s)
            scratch = self._scratch()
            rounds.clear()
            pyspark.sql.Observation = CountingObservation
            try:
                with tracer.span("batch.pass") as root:
                    with tracer.span("search.knn_join", counts=True) as s:
                        got = self.knn()
                    knn.append(s)
                    with tracer.span("dedup", counts=True) as s:
                        reps = self.groups(scratch)
                    full.append(s)
            finally:
                pyspark.sql.Observation = base_obs
            roots.append(root)
            self._check(got, reps)
        edges = self.spark.read.parquet(os.path.join(scratch, "edges_0")).count()
        t_knn, t_dd = self.one_pass()
        untraced = t_knn + t_dd
        dur = lambda recs: statistics.median(r["end"] - r["start"] for r in recs)  # noqa: E731
        self_s = {"search.knn_join": dur(knn), "dedup.signatures": dur(sigs)}
        self_s["dedup.groups"] = dur(full) - self_s["dedup.signatures"]
        c_sigs = _median_counts(sigs)
        out = {}
        out.update(_layer_metrics("search.knn_join", self_s["search.knn_join"], _median_counts(knn)))
        out.update(_layer_metrics("dedup.signatures", self_s["dedup.signatures"], c_sigs))
        out.update(_layer_metrics("dedup.groups", self_s["dedup.groups"], _sub_counts(_median_counts(full), c_sigs)))
        # rows the partial top-k hands to the exchange, per scored pair
        scored = self.spark.read.parquet(self.corpus).crossJoin(
            F.broadcast(self.spark.read.parquet(self.queries))
        ).select("query_id", "vec_id", cosine("embedding", "query_embedding").alias("score"))
        shuffled = partial_topk_per_partition(scored, K).count()
        traced_pass = dur(roots)
        out.update({
            "search.knn_join.shuffle_rows_per_pair": (shuffled / (self.N_QUERIES * self.N_CORPUS), "ratio"),
            "dedup.groups.rounds": (len([r for r in rounds if str(r).startswith("cc_round_")]), "count"),
            "dedup.groups.edges": (edges, "count"),
            "dedup.pair_recall": (
                sum(reps.get(a) == reps.get(b) for a, b in self.pairs) / len(self.pairs), "ratio"
            ),
            "trace.overhead_s": (traced_pass - untraced, "s"),
            "trace.unattributed_s": (traced_pass - sum(self_s.values()), "s"),
            # throughput of the untraced pass
            "knn_pairs_per_s": (self.N_QUERIES * self.N_CORPUS / t_knn, "pairs/s"),
            "dedup_docs_per_s": (self.n_docs / t_dd, "docs/s"),
        })
        return out


class Phases(Workload):
    """Phases run one after another in one process: all setups, then all
    warm-ups, then each phase's measurement, over the whole window if it
    is the workload's focus. Warming every phase before measuring any
    gives the JIT time to settle."""

    def __init__(self, run, *parts):
        super().__init__(run)
        # parts: (phase class, whether it is measured over the window, kwargs)
        self.parts = [(cls(run, **kw), focus) for cls, focus, kw in parts]
        self.wall_s: dict = {}  # phase -> step -> seconds, for the report

    def _each(self, step: str, fn) -> list:
        out = []
        for p, focus in self.parts:
            name = type(p).__name__.lower()
            t0 = time.perf_counter()
            out.append(fn(p, focus))
            self.wall_s.setdefault(name, {}).setdefault(step, []).append(time.perf_counter() - t0)
        return out

    def setup(self, d: str) -> None:
        self._each("setup", lambda p, _: p.setup(os.path.join(d, type(p).__name__.lower())))
        self.sizes = {type(p).__name__.lower(): p.sizes for p, _ in self.parts}

    def warmup(self) -> None:
        self._each("warmup", lambda p, _: p.warmup())
        # a full collection now, so that warm-up garbage is not collected
        # on a measurement's clock
        self.spark._jvm.System.gc()

    def _merge(self, results: list[dict]) -> dict:
        out: dict = {}
        for r in results:
            for k, (v, u) in r.items():
                # tracing overhead and unattributed time add up across phases
                out[k] = (out[k][0] + v, u) if k.startswith("trace.") and k in out else (v, u)
        self.samples = {type(p).__name__.lower(): p.samples for p, _ in self.parts}
        self.samples["wall_s"] = self.wall_s
        return out

    def measure(self, seconds: float) -> dict:
        return self._merge(
            self._each("measure", lambda p, focus: p.measure(seconds if focus else 0))
        )

    def traced(self, tracer, seconds: float) -> dict:
        return self._merge(
            self._each("traced", lambda p, focus: p.traced(tracer, seconds if focus else 0))
        )


# The phase a workload is named for runs two passes or blocks, and more
# if the measured window has not passed; the other runs one (and one
# traced pass), which is enough to report its metrics. A fixed count,
# rather than whatever fits the window, keeps a run from taking one
# pass on some seeds and two on others. Batch runs in traced runs only:
# its warm-up and one pass would add about 14 s to every run.
FOCUS = {"min_samples": 2}
SIDE = {"min_samples": 1, "trace_repeats": 1}


def _workload(focus: str):
    def make(run, traced: bool) -> Phases:
        parts = []
        for cls in (Ingest, Serve):
            mine = cls.__name__.lower() == focus
            parts.append((cls, mine, FOCUS if mine else SIDE))
        if traced:
            parts.append((Batch, False, SIDE))
        return Phases(run, *parts)

    return make


WORKLOADS = {name: _workload(name) for name in ("ingest", "serve")}

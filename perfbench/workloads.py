"""The two workloads, their correctness checks and the layer
attribution suite.

Each workload is a closed loop with one client on the driver thread:

- ``refine_ingest``: one operation is one refinement pass over the
  crawl corpus (raw JSON records + PDFs → ``pipeline.process`` → parquet
  write → ``rag.build_index`` → parquet write).
- ``rag_search``: one operation is one ``search.search`` call over the
  persisted chunk index, collected to the driver.

The attribution suite also times one pass over a fixed mix of registry
queries (``MIX``), checked against their DuckDB oracles.
"""

from __future__ import annotations

import os
import re
import time
from statistics import median

import numpy as np

import gen
import harness

# input sizes: (crawl records, PDFs, analytics scale factor); "tiny" is
# for the benchmark's own tests
SIZES = {"standard": (10000, 100, 0.005), "tiny": (60, 3, 0.001)}
N_QUERY_TEXTS = 256
# warm-up operations before timing: latency keeps falling over the first
# operations of a fresh JVM (JIT compilation of the hot paths)
REFINE_WARMUP_PASSES = 1
SEARCH_WARMUP_QUERIES = 6
KERNEL_SAMPLE = 300  # records timed per kernel in the attribution suite
SEARCH_PROBES = 5

MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q18_large_volume_customers",
    "window_sessionize",
    "join_asof_last_view",
    "agg_cube",
    "events_tumbling_window",
    "topk_per_group",
    "dedup_minhash_pairs",
    "text_bm25_topk",
    "vector_ivfpq_adc_search",
    "graph_triangle_count",
)

_EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_PHONE_RE = re.compile(r"(\+44[ -]?7\d{3}|07\d{3})[ -]?\d{3}[ -]?\d{3}")
_EMAIL_MASK, _PHONE_MASK = "xxx@xxx.xx", "xx-xxxx-xxxx"  # the anonymizer's replacements


class Context:
    """Per-run state shared by the workload and the attribution suite."""

    def __init__(self, work: str, seed: int, size: str = "standard") -> None:
        self.work = work
        self.seed = seed
        self.n_docs, self.n_pdfs, self.sf = SIZES[size]
        self.spark = None
        self.registry = None
        self.tracer: harness.Tracer | None = None
        self.jobs: harness.JobCounter | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.corpus_dir = os.path.join(work, "corpus")
        self.tables_dir = os.path.join(work, "tables")
        self.truth: dict | None = None
        self.index_dir: str | None = None

    def record(self, ok: bool, what: str) -> None:
        """Count one operation or check; keep the first failures' text."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def ensure_corpus(self) -> dict:
        if self.truth is None:
            self.truth = gen.crawl_corpus(self.corpus_dir, self.seed, self.n_docs, self.n_pdfs)
        return self.truth

    def ensure_tables(self) -> str:
        if not os.path.exists(os.path.join(self.tables_dir, "lineitem.parquet")):
            gen.analytics_tables(self.tables_dir, self.seed, self.sf)
        return self.tables_dir


# ------------------------------------------------------------ refinement


def raw_records(spark, corpus_dir: str):
    """The crawl corpus as one raw-record DataFrame: the JSON records of
    the three sources plus the PDFs through ``sources.pdfs.scan_pdfs``."""
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.sources import pdfs

    records = spark.read.schema(gen.RAW_SCHEMA).json(os.path.join(corpus_dir, "raw"))
    scanned = pdfs.scan_pdfs(spark, os.path.join(corpus_dir, "pdfs")).select(
        F.regexp_extract("path", r"([^/]+)\.pdf$", 1).alias("identifier"),
        F.lit(gen.PDF_SOURCE).alias("source"),
        F.lit("pdf").alias("format"),
        F.col("text"),
    )
    return records.unionByName(scanned, allowMissingColumns=True)


def refine_pass(ctx: Context, out_dir: str) -> None:
    """One refinement pass, writing ``refined`` and ``index`` under
    ``out_dir``."""
    from ndl_core_data_pipeline_spark import pipeline, rag, sinks

    spark = ctx.spark
    sinks.write_parquet(
        pipeline.process(raw_records(spark, ctx.corpus_dir)),
        os.path.join(out_dir, "refined"),
    )
    sinks.write_parquet(
        rag.build_index(spark.read.parquet(os.path.join(out_dir, "refined"))),
        os.path.join(out_dir, "index"),
    )


def check_refined(ctx: Context, out_dir: str) -> None:
    """Survivors equal the generator's truth; no email or phone pattern
    is left in text rows, and every planted one was replaced; the index
    holds exactly the chunks the chunker makes of the survivors."""
    import pyarrow.parquet as pq

    from ndl_core_data_pipeline_spark.functions import chunk_text

    truth = ctx.truth
    refined = pq.read_table(
        os.path.join(out_dir, "refined"), columns=["identifier", "format", "text"]
    ).to_pydict()
    ctx.record(
        len(refined["identifier"]) == truth["survivors"]
        and len(set(refined["identifier"])) == truth["survivors"],
        f"refine: {len(refined['identifier'])} survivors, expected {truth['survivors']}",
    )
    texts = [t for f, t in zip(refined["format"], refined["text"]) if f == "text" and t]
    emails = sum(t.count(_EMAIL_MASK) for t in texts)
    phones = sum(t.count(_PHONE_MASK) for t in texts)
    leaked = sum(
        bool(_EMAIL_RE.search(t.replace(_EMAIL_MASK, "")) or _PHONE_RE.search(t))
        for t in texts
    )
    ctx.record(
        leaked == 0 and emails == truth["emails"] and phones == truth["phones"],
        f"refine: {leaked} rows leak PII; replaced {emails}/{truth['emails']} emails, "
        f"{phones}/{truth['phones']} phones",
    )
    index = pq.read_table(
        os.path.join(out_dir, "index"), columns=["origin_identifier", "chunk_index"]
    ).to_pydict()
    want = sum(len(chunk_text(t)) for t in refined["text"] if t)
    keys = set(zip(index["origin_identifier"], index["chunk_index"]))
    ctx.record(
        len(index["chunk_index"]) == want and len(keys) == want,
        f"refine: index has {len(index['chunk_index'])} chunks, expected {want}",
    )


class RefineIngest:
    name = "refine_ingest"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.out = os.path.join(ctx.work, "refine_out")
        self.items_per_op = 0

    def generate(self) -> None:
        self.items_per_op = self.ctx.ensure_corpus()["n_input"]

    def prepare(self) -> None:
        pass

    def warmup(self) -> None:
        for _ in range(REFINE_WARMUP_PASSES):
            refine_pass(self.ctx, self.out)

    def after_setup(self) -> None:
        pass

    def op(self, i: int) -> float:
        t0 = time.perf_counter()
        refine_pass(self.ctx, self.out)
        return time.perf_counter() - t0

    def after_op(self, i: int) -> None:
        check_refined(self.ctx, self.out)


# ---------------------------------------------------------------- search


def build_search_index(ctx: Context) -> str:
    """Refine the corpus and persist its chunk index; returns the index
    path. Reused when the run already built it."""
    if ctx.index_dir is None:
        ctx.ensure_corpus()
        out = os.path.join(ctx.work, "search_index")
        refine_pass(ctx, out)
        ctx.index_dir = os.path.join(out, "index")
    return ctx.index_dir


class SearchOracle:
    """Brute-force numpy cosine top-k, elbow cut and neighbour merge over
    the collected index, mirroring ``search.search``."""

    def __init__(self, index_dir: str) -> None:
        import pyarrow.parquet as pq

        from ndl_core_data_pipeline_spark import search

        self.search = search
        t = pq.read_table(index_dir).to_pydict()
        self.ids = np.asarray(t["chunk_id"], dtype=np.int64)
        emb = np.asarray(t["embedding"], dtype=np.float32).astype(np.float64)
        self.emb = emb
        self.norms = np.sqrt((emb * emb).sum(axis=1))
        self.text = dict(zip(t["chunk_id"], t["chunk"]))
        pos = {(o, c): cid for o, c, cid in zip(t["origin_identifier"], t["chunk_index"], t["chunk_id"])}
        self.prev = {cid: pos.get((o, c - 1)) for (o, c), cid in pos.items()}
        self.next = {cid: pos.get((o, c + 1)) for (o, c), cid in pos.items()}

    def expected(self, q: np.ndarray) -> tuple[dict, list[int], set[int]]:
        """({chunk id: cosine distance}, the top-k ids in order, the
        admissible row counts after the elbow cut)."""
        dist = 1.0 - (self.emb @ q) / (self.norms * np.sqrt(q @ q))
        order = np.lexsort((self.ids, dist))[: self.search.DEFAULT_K]
        d = dist[order]
        diffs = np.diff(d)
        counts = {len(d)} if not len(diffs) else set()
        s = np.sort(diffs)
        # percentile_approx returns an element of the sample; accept
        # either neighbour of the exact median
        for med in {s[(len(s) - 1) // 2], s[len(s) // 2]} if len(s) else ():
            thr = max(med * self.search.ELBOW_SENSITIVITY, self.search.ELBOW_MIN_STEP)
            cut = np.nonzero(diffs > thr)[0]
            counts.add(int(cut[0]) + 1 if len(cut) else len(d))
        return dict(zip(self.ids.tolist(), dist.tolist())), self.ids[order].tolist(), counts

    def merged(self, cid: int) -> str:
        ov = self.search.NEIGHBOR_OVERLAP
        p, n = self.prev.get(cid), self.next.get(cid)
        head = self.text[p][: max(len(self.text[p]) - ov, 0)] if p is not None else ""
        tail = self.text[n][ov:] if n is not None else ""
        return head + self.text[cid] + tail

    def check(self, q: np.ndarray, rows) -> bool:
        """The rows are the elbow-cut prefix of the exact top-k (up to
        float-equal distances), best first, with exact similarities and
        merged neighbour text."""
        dist, top, counts = self.expected(q)
        got = [int(r["chunk_id"]) for r in rows]
        if len(got) not in counts or len(set(got)) != len(got):
            return False
        cutoff = dist[top[len(got) - 1]] + 1e-12
        sims = [r["cos_sim"] for r in rows]
        return all(a >= b - 1e-12 for a, b in zip(sims, sims[1:])) and all(
            dist[g] <= cutoff
            and abs((1.0 - r["cos_sim"]) - dist[g]) <= 1e-9
            and r["merged_text"] == self.merged(g)
            for g, r in zip(got, rows)
        )


class RagSearch:
    name = "rag_search"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.items_per_op = 1
        self.queries: np.ndarray | None = None
        self.oracle: SearchOracle | None = None
        self.frames = None
        self.pending = None

    def generate(self) -> None:
        from ndl_core_data_pipeline_spark.classify import embed_texts

        self.ctx.ensure_corpus()
        texts = gen.query_texts(self.ctx.seed, N_QUERY_TEXTS)
        self.queries = np.asarray(embed_texts(texts), dtype=np.float64)

    def prepare(self) -> None:
        build_search_index(self.ctx)

    def _frames(self):
        from pyspark.sql import functions as F

        idx = self.ctx.spark.read.parquet(self.ctx.index_dir)
        corpus = idx.select(F.col("chunk_id").alias("vec_id"), "embedding")
        chunks = idx.select("chunk_id", "origin_identifier", "chunk_index", "chunk")
        return corpus, chunks

    def warmup(self) -> None:
        self.frames = self._frames()
        for i in range(SEARCH_WARMUP_QUERIES):
            self.op(-1 - i)

    def after_setup(self) -> None:
        self.oracle = SearchOracle(self.ctx.index_dir)

    def query(self, i: int) -> np.ndarray:
        return self.queries[i % len(self.queries)]

    def op(self, i: int) -> float:
        from ndl_core_data_pipeline_spark import search

        q = self.query(i)
        corpus, chunks = self.frames
        t0 = time.perf_counter()
        rows = search.search(corpus, chunks, [float(x) for x in q]).collect()
        dt = time.perf_counter() - t0
        self.pending = (q, rows)
        return dt

    def after_op(self, i: int) -> None:
        q, rows = self.pending
        self.ctx.record(self.oracle.check(q, rows), f"rag_search: query {i} differs from numpy")


# ------------------------------------------------------------- analytics


def _canon(v):
    """A comparable, hashable form of one result cell."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, float):
        return None if v != v else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return round(v.replace(tzinfo=None).timestamp() * 1e6)
    if isinstance(v, datetime.date):
        return round(datetime.datetime(v.year, v.month, v.day).timestamp() * 1e6)
    if isinstance(v, dict):
        return tuple(_canon(x) for x in v.values())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, np.generic):
        return _canon(v.item())
    return v


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, float(f"{v:.9g}"))
        if isinstance(v, int):
            return (1, v)
        return (2, repr(v))

    return tuple(k(v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 + 1e-9 * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def results_match(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """None when the two results agree on column names, row count and
    order-insensitive values; else a short reason."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return f"{len(spark_rows)} rows vs {len(duck_rows)}"
    names = sorted(spark_cols)
    si = [spark_cols.index(c) for c in names]
    di = [duck_cols.index(c) for c in names]
    a = sorted((tuple(_canon(r[i]) for i in si) for r in spark_rows), key=_sort_key)
    b = sorted((tuple(_canon(r[i]) for i in di) for r in duck_rows), key=_sort_key)
    for x, y in zip(a, b):
        if not _close(x, y):
            return f"row {x!r} vs {y!r}"
    return None


def oracle_results(tables_dir: str, sqls: dict) -> dict:
    """Each query's DuckDB oracle over the same parquet tables:
    {name: (columns, rows)}."""
    import duckdb

    from ndl_core_data_pipeline_spark.io import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET default_null_order='nulls_first_on_asc_last_on_desc'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sqls.items():
            cur = con.execute(sql)
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (RefineIngest, RagSearch)}


# ------------------------------------------------- layer attribution suite


def _time_kernel(fn, items, reps: int = 3) -> float:
    """Median over ``reps`` of the per-item microseconds of ``fn``."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        times.append((time.perf_counter() - t0) / max(len(items), 1) * 1e6)
    return median(times)


def kernel_metrics(ctx: Context) -> dict:
    """Driver-side per-record times of the Python kernels the pipeline's
    UDFs run, over a fixed sample of the generated records."""
    import json

    from ndl_core_data_pipeline_spark import classify
    from ndl_core_data_pipeline_spark.functions import udfs

    ctx.ensure_corpus()
    texts = []
    raw = os.path.join(ctx.corpus_dir, "raw")
    for name in sorted(os.listdir(raw)):
        with open(os.path.join(raw, name)) as f:
            texts += [json.loads(line)["text"] for line in f if line.strip()]
    sample = texts[:KERNEL_SAMPLE]
    html = [t for t in texts if "<" in t and ">" in t][: KERNEL_SAMPLE // 5]
    plain = [udfs.extract_html_text(t) if "<" in t and ">" in t else t for t in sample]
    chunks = [c for t in plain for c in udfs.chunk_text(t)][:KERNEL_SAMPLE]
    tr = ctx.tracer
    out = {}
    for metric, layer, fn, items in (
        ("functions.html_extract_us", "functions", udfs.extract_html_text, html),
        ("functions.langid_us", "functions", udfs.detect_language, plain),
        ("functions.token_count_us", "functions", udfs.count_tokens, plain),
        ("functions.anonymize_us", "functions", udfs.anonymize_text, plain),
        ("functions.chunk_us", "functions", udfs.chunk_text, plain),
    ):
        with tr.span(metric, layer):
            out[metric] = _time_kernel(fn, items)
    with tr.span("classify.embed_texts", "classify"):
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            classify.embed_texts(chunks)
            reps.append((time.perf_counter() - t0) / len(chunks) * 1e6)
        out["classify.embed_us"] = median(reps)
    return out


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _data_bytes(path: str) -> int:
    """Bytes of the data files a Spark write left under ``path``
    (checksums and commit markers excluded)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def refine_metrics(ctx: Context) -> tuple[dict, dict]:
    """Each refinement layer materialized on its own, then one full pass
    for the write-volume ratios. Returns (metrics, per-phase exec)."""
    import pyarrow.parquet as pq

    from ndl_core_data_pipeline_spark import pipeline, rag
    from ndl_core_data_pipeline_spark.sources import pdfs

    truth = ctx.ensure_corpus()
    spark, jobs = ctx.spark, ctx.jobs
    out = os.path.join(ctx.work, "suite_refine")
    refine_pass(ctx, out)  # the written outputs feed build_index below
    phases = {}
    m = {}
    for metric, label, make in (
        ("sources.scan_pdfs_s", "scan_pdfs",
         lambda: pdfs.scan_pdfs(spark, os.path.join(ctx.corpus_dir, "pdfs"))),
        ("pipeline.process_s", "process",
         lambda: pipeline.process(raw_records(spark, ctx.corpus_dir))),
        ("rag.build_index_s", "build_index",
         lambda: rag.build_index(spark.read.parquet(os.path.join(out, "refined")))),
    ):
        with ctx.tracer.span(label, "exec"), jobs.phase(label) as counts:
            t0 = time.perf_counter()
            _materialize(make())
            m[metric] = time.perf_counter() - t0
        phases[label] = counts
    refined_rows = pq.read_table(os.path.join(out, "refined"), columns=["identifier"]).num_rows
    index_rows = pq.read_table(os.path.join(out, "index"), columns=["chunk_index"]).num_rows
    m["sinks.bytes_written_per_input_byte"] = (
        _data_bytes(os.path.join(out, "refined")) + _data_bytes(os.path.join(out, "index"))
    ) / gen.input_bytes(ctx.corpus_dir)
    m["pipeline.kept_frac"] = refined_rows / truth["n_input"]
    m["rag.chunks_per_doc"] = index_rows / max(refined_rows, 1)
    return m, phases


def search_metrics(ctx: Context) -> dict:
    """Search split by prefix materialization: cosine top-k, then with
    the elbow cut, then the full search; plus build vs collect time and
    the scheduling floor per query."""
    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark import search
    from ndl_core_data_pipeline_spark.classify import embed_texts

    idx = ctx.spark.read.parquet(build_search_index(ctx))
    corpus = idx.select(F.col("chunk_id").alias("vec_id"), "embedding")
    chunks = idx.select("chunk_id", "origin_identifier", "chunk_index", "chunk")
    qs = embed_texts(gen.query_texts(ctx.seed + 1, SEARCH_PROBES))
    cols = {k: [] for k in ("topk", "elbow", "merge", "build", "exec", "jobs", "stages", "tasks")}
    for i, q in enumerate(qs):
        q = [float(x) for x in q]
        t0 = time.perf_counter()
        search.cosine_topk(corpus, q).collect()
        t1 = time.perf_counter()
        search.elbow_cut(search.cosine_topk(corpus, q)).collect()
        t2 = time.perf_counter()
        with ctx.jobs.phase(f"search-{i}") as counts:
            t3 = time.perf_counter()
            df = search.search(corpus, chunks, q)
            t4 = time.perf_counter()
            df.collect()
            t5 = time.perf_counter()
        # each step's time is the difference between two prefixes of the
        # same query, so the query's own variation cancels
        cols["topk"].append(t1 - t0)
        cols["elbow"].append((t2 - t1) - (t1 - t0))
        cols["merge"].append((t5 - t3) - (t2 - t1))
        cols["build"].append(t4 - t3)
        cols["exec"].append(t5 - t4)
        for k in ("jobs", "stages", "tasks"):
            cols[k].append(counts[k])
    med = {k: median(v) for k, v in cols.items()}
    return {
        "search.build_ms": med["build"] * 1e3,
        "search.exec_ms": med["exec"] * 1e3,
        "search.cosine_topk_ms": med["topk"] * 1e3,
        "search.elbow_ms": med["elbow"] * 1e3,
        "search.neighbor_merge_ms": med["merge"] * 1e3,
        "search.jobs_per_query": med["jobs"],
        "search.stages_per_query": med["stages"],
        "search.tasks_per_query": med["tasks"],
    }


def analytics_metrics(ctx: Context) -> dict:
    """Per-query build and execution times and Spark counts of the
    analytics mix, each query written to the ``noop`` sink. The first
    pass in a JVM is dominated by compilation: it is not measured, and
    its collected results are checked against the DuckDB oracles. The
    second pass is measured."""
    reg, spark = ctx.registry, ctx.spark
    tables = ctx.ensure_tables()
    results = {}
    for q in MIX:
        df = reg.queries[q](spark, tables)
        results[q] = (df.columns, df.collect())
    oracle = oracle_results(tables, {q: reg.oracles[q] for q in MIX})
    for q in MIX:
        why = results_match(*results[q], *oracle[q])
        ctx.record(why is None, f"analytics: {q}: {why}")
    queries = harness.wrap_queries(reg.queries, ctx.tracer)
    m = {}
    builds = execs = 0.0
    with ctx.tracer.span("analytics_pass", "exec"):
        for q in MIX:
            with ctx.jobs.phase(q) as counts:
                t0 = time.perf_counter()
                df = queries[q](spark, tables)
                t1 = time.perf_counter()
                _materialize(df)
                t2 = time.perf_counter()
            builds += t1 - t0
            execs += t2 - t1
            m[f"analytics.{q}.build_s"] = t1 - t0
            m[f"analytics.{q}.exec_s"] = t2 - t1
            for k in ("jobs", "stages", "tasks"):
                m[f"analytics.{q}.{k}"] = counts[k]
    m["analytics.build_share"] = builds / (builds + execs)
    return m

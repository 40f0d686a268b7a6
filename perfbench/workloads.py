"""The benchmark's workloads: inputs, timed loop, checks and trace.

Each workload function takes a ``Run`` and returns a ``Result``.  With
``run.trace`` off it reports the end-to-end metrics.  With it on, it
runs the same timed loop untraced first, then switches Spark's event
log on, repeats the workload's operation under ``layer:`` tags, forces
each layer's plan prefix into the noop sink under its own tag, and
reports the per-layer metrics read back from the event log.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import time
from dataclasses import dataclass, field
from statistics import geometric_mean as geomean
from statistics import median

import eventlog
import inputs
from harness import Bench, force

#: end-to-end metric names and units (BENCHMARK.json "end_to_end")
E2E_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_geomean_s": "s",
}

#: per-layer metric names and units (BENCHMARK.json "per_layer"); a
#: layer the workload never runs reports 0
LAYER_UNITS = {
    "scan.busy_s": "s",
    "scan.tasks": "count",
    "scan.bytes_in": "bytes",
    "segment.busy_s": "s",
    "segment.python_worker_s": "s",
    "segment.rows_out": "count",
    "segment.bytes_to_python": "bytes",
    "segment.bytes_from_python": "bytes",
    "classify.busy_s": "s",
    "assemble.busy_s": "s",
    "assemble.shuffle_write_bytes": "bytes",
    "assemble.fetch_wait_s": "s",
    "assemble.spill_bytes": "bytes",
    "extract.self.scan_s": "s",
    "extract.self.segment_s": "s",
    "extract.self.classify_s": "s",
    "extract.self.assemble_s": "s",
    "extract.traced_wall_s": "s",
    "extract.self_remainder_s": "s",
    "layout.busy_s": "s",
    "layout.python_worker_s": "s",
    "curate.gate.busy_s": "s",
    "curate.gate.rejected": "count",
    "curate.dedup_exact.busy_s": "s",
    "curate.dedup_exact.dups": "count",
    "curate.dedup_near.busy_s": "s",
    "curate.dedup_near.candidates": "count",
    "curate.dedup_near.confirmed": "count",
    "curate.dedup_near.confirm_ratio": "ratio",
    "curate.components.rounds": "count",
    "curate.components.busy_s": "s",
    "curate.corpus_health.busy_s": "s",
    "sink.busy_s": "s",
    "sink.bytes_written": "bytes",
    "queries.shuffle_stages": "count",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "streaming.drain_s": "s",
    "split.scan.tasks": "count",
    "split.geomean_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    work: str
    bench: Bench
    t0: float
    info: dict = field(default_factory=dict)

    def mark(self, phase: str) -> None:
        """Record the seconds since process start at which ``phase``
        ended, in the run's info line."""
        self.info.setdefault("phase_end_s", {})[phase] = round(
            time.perf_counter() - self.t0, 2
        )


@dataclass
class Result:
    metrics: dict
    attempted: int
    failed: int

    @property
    def correct(self) -> bool:
        return self.failed == 0


def _traced(run: Run, tags: dict, warmup=None) -> tuple:
    """Switch the event log on, run ``warmup`` untagged (so no layer
    pays for restarting the Python workers), run each ``tags[name]`` op
    once under ``layer:<name>``, stop the context (which flushes the
    log) and return (wall seconds per tag, layer stats per tag)."""
    b = run.bench
    b.restart_traced()
    if warmup is not None:
        warmup(b.spark)
    walls = {}
    for name, op in tags.items():
        with b.tag(name):
            t = time.perf_counter()
            op(b.spark)
            walls[name] = time.perf_counter() - t
    b.spark.stop()
    b.spark = None
    run.info["traced_s"] = {k: round(v, 3) for k, v in walls.items()}
    stats = eventlog.layers(eventlog.read_events(b.event_log_dir))
    return walls, {k: vars(v) for k, v in stats.items()}


def _layer(stats: dict, tag: str, name: str) -> float:
    return stats.get(tag, {}).get(name, 0.0)


def _gc_s(stats: dict) -> float:
    return sum(v["gc_s"] for v in stats.values())


def _per_layer(values: dict) -> dict:
    undeclared = set(values) - set(LAYER_UNITS)
    if undeclared:
        raise KeyError(f"undeclared per-layer metrics: {sorted(undeclared)}")
    return {
        k: {"value": float(values.get(k, 0.0)), "unit": u}
        for k, u in LAYER_UNITS.items()
    }


def _e2e(setup_s: float, items_per_s: float, op_geomean_s: float) -> dict:
    vals = {
        "setup_s": setup_s,
        "items_per_s": items_per_s,
        "op_geomean_s": op_geomean_s,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


# --------------------------------------------------------------------
# curate_mixed

CURATE_BASE_DOCS = 800

#: rounds of the traced HTML extract chain; its metrics are the median
#: round's
EXTRACT_ROUNDS = 3


def curate_job(inp: str, out: str) -> bool:
    """Run ``jobs/curate_job.py --mixed --corpus-health`` in this
    process, on the active session, writing curated, rejected and the
    corpus-health sidecar under ``out``.  The job stops the session
    when it ends.  Returns False when the job's count gate fails."""
    from jobs.curate_job import main

    try:
        main(["--input", inp, "--curated", f"{out}/curated",
              "--rejects", f"{out}/rejected", "--mixed",
              "--corpus-health", f"{out}/health"])
    except AssertionError as e:  # the job's count gate
        print(f"curate job: {e}"[:400], flush=True)
        return False
    return True


def check_curated(spark, inp: str, out: str, answers: dict) -> tuple:
    """(attempted, failed) over the known answers: curated and rejected
    partition the input urls; curated text is byte-identical to the
    reference extraction; each exact-copy family has exactly one
    curated member; each boilerplate-only page is rejected by the
    gate, not as a duplicate; the corpus-health sidecar has rows."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(inp).select("url", F.col("text").alias("want"))
    cur = spark.read.parquet(f"{out}/curated").select("url", "text")
    rej = spark.read.parquet(f"{out}/rejected").select("url", "reason")
    placed: dict = {}
    for r in cur.select("url").union(rej.select("url")).collect():
        placed[r.url] = placed.get(r.url, 0) + 1
    urls = [r.url for r in pages.select("url").collect()]
    failed = sum(placed.get(u, 0) != 1 for u in urls) + len(set(placed) - set(urls))
    failed += cur.join(pages, "url").filter(F.col("text") != F.col("want")).count()
    curated = {r.url for r in cur.select("url").collect()}
    failed += sum(len(curated.intersection(f)) != 1 for f in answers["families"])
    reason = {r.url: r.reason for r in rej.collect()}
    failed += sum(reason.get(u) in (None, "duplicate") for u in answers["boiler"])
    failed += spark.read.parquet(f"{out}/health").count() == 0
    attempted = len(urls) + len(answers["families"]) + len(answers["boiler"]) + 1
    return attempted, failed


def curate_mixed(run: Run) -> Result:
    t = time.perf_counter()
    inp = os.path.join(run.work, "pages")
    answers = inputs.write_curate_corpus(inp, CURATE_BASE_DOCS, run.seed)
    gen_s = time.perf_counter() - t
    run.mark("inputs")
    n_docs = answers["n_docs"]
    run.info.update(docs=n_docs, pdf_docs=answers["n_pdf"],
                    families=len(answers["families"]),
                    chains=len(answers["chains"]), boiler=len(answers["boiler"]))

    def readable(spark):
        spark.read.parquet(inp).limit(1).collect()

    b = run.bench
    setup_s = b.setup(run.t0, gen_s, readable)
    run.mark("setup")
    out = os.path.join(run.work, "out")
    # The timed operation is the first job in the fresh JVM: a curation
    # run is one spark-submit, so every run pays the plan compilation
    # and JIT warm-up this job includes.  It outlasts --seconds on its
    # own.
    t = time.perf_counter()
    gate_ok = curate_job(inp, out)
    job_s = time.perf_counter() - t
    run.mark("timed")
    b.start()  # the job stopped the session
    attempted, failed = check_curated(b.spark, inp, out, answers)
    attempted, failed = attempted + 1, failed + (not gate_ok)
    run.mark("check")
    run.info["op_s"] = {"job": round(job_s, 3)}
    run.info["peak_rss_mb"] = round(b.peak_rss_mb(), 1)
    if not run.trace:
        return Result(_e2e(setup_s, n_docs / job_s, job_s), attempted, failed)
    return Result(_per_layer(_trace_curate(run, inp, out)), attempted, failed)


def _trace_curate(run: Run, inp: str, out: str) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from clara_ocr_spark.curate import (
        CurateConfig, corpus_health, curate, exact_dup_canonical, quality_reason,
        text_features,
    )
    from clara_ocr_spark.pipeline import _is_pdf_col, extract, extract_mixed
    from clara_ocr_spark.queries import (
        _band_candidates, _jaccard_pairs, _min_label_components,
        _minhash_bands, _tokens,
    )
    from clara_ocr_spark.stages.classify import classify
    from clara_ocr_spark.stages.layout import extract_pdf
    from clara_ocr_spark.stages.segment import segment

    cfg = CurateConfig()
    counts: dict = {}
    n = F.count(F.lit(1)).alias("n")

    def pages(s, pdf: bool):
        p = s.read.parquet(inp)
        return p.filter(_is_pdf_col() if pdf else ~_is_pdf_col())

    def gated(s):
        return text_features(extract_mixed(s.read.parquet(inp))).withColumn(
            "reason", quality_reason(cfg)
        )

    def passing(s):
        return gated(s).filter(F.col("reason").isNull()).select("url", "text")

    def gate(s):
        o = Observation()
        force(gated(s).observe(o, F.count("reason").alias("n")))
        counts["rejected"] = o.get["n"]

    def dedup_exact(s):
        # passing is checkpointed as curate() checkpoints its features,
        # so this prefix is a strict part of the next one
        o = Observation()
        dup = F.count(F.when(F.col("url") != F.col("exact_canonical"), 1))
        p = passing(s).localCheckpoint()
        force(exact_dup_canonical(p).observe(o, dup.alias("n")))
        counts["dups"] = o.get["n"]

    def dedup_near(s):
        # the near tier of curate.near_dup_canonical over the exact
        # representatives, with its candidate and confirmed pair counts
        p = passing(s).localCheckpoint()
        docs = p.join(exact_dup_canonical(p), "url").filter(
            F.col("url") == F.col("exact_canonical")
        ).select("url", "text")
        toks = _tokens(F.lower(F.col("text")))
        bands = docs.select("url", F.explode(_minhash_bands(toks)).alias("bucket"))
        ws = docs.select("url", F.array_distinct(F.array_sort(toks)).alias("toks"))
        oc, op = Observation(), Observation()
        cand = _band_candidates(bands.localCheckpoint(), "url").observe(oc, n)
        pairs = _jaccard_pairs(cand, ws.localCheckpoint(), "url", cfg.jaccard_tau)
        counts["pairs"] = pairs.observe(op, n).localCheckpoint()
        counts["candidates"], counts["confirmed"] = oc.get["n"], op.get["n"]

    def components(s):
        stats: dict = {}
        force(_min_label_components(counts["pairs"], stats))
        counts["rounds"] = stats["rounds"]

    def curate_noop(s):
        # both outputs computed and held, not yet written
        curated, rejected = curate(extract_mixed(s.read.parquet(inp)), cfg)
        counts["outputs"] = (curated.localCheckpoint(), rejected.localCheckpoint())

    sink_dir = os.path.join(out, "trace")

    def sink_noop(s):
        for df in counts["outputs"]:
            force(df)

    def sink(s):
        # the job's two writes, of the same rows
        for name, df in zip(("curated", "rejected"), counts["outputs"]):
            df.write.mode("overwrite").parquet(f"{sink_dir}/{name}")

    def health(s):
        # the sidecar as the job builds it: from the written table
        corpus_health(s.read.parquet(f"{sink_dir}/curated")).write.mode(
            "overwrite"
        ).parquet(f"{sink_dir}/health")

    # the HTML leg's prefix chain: scan → segment → classify → extract,
    # run EXTRACT_ROUNDS times (its layers are small against per-job
    # overhead); the scan reads and touches the two columns extraction
    # reads
    chain = {
        "scan": lambda s: force(pages(s, False).select(F.xxhash64("url", "html"))),
        "segment": lambda s: force(segment(pages(s, False))),
        "classify": lambda s: force(classify(segment(pages(s, False)))),
        "extract": lambda s: force(extract(pages(s, False))),
    }
    tags = {f"{k}#{r}": op for r in range(EXTRACT_ROUNDS) for k, op in chain.items()}
    tags.update({
        "layout": lambda s: force(extract_pdf(pages(s, True))),
        # curation's prefix chain over both legs, up to the written
        # outputs, and the sidecar read back from them
        "extract_mixed": lambda s: force(extract_mixed(s.read.parquet(inp))),
        "curate.gate": gate,
        "curate.dedup_exact": dedup_exact,
        "curate.dedup_near": dedup_near,
        "curate.components": components,
        "curate.noop": curate_noop,
        "sink.noop": sink_noop,
        "sink": sink,
        "curate.corpus_health": health,
    })
    # the untraced reference for the tracing overhead: the same full
    # curation, just before the event log is switched on; the second of
    # two runs, as the traced one also runs in a warm JVM
    for _ in range(2):
        t = time.perf_counter()
        curate_noop(run.bench.spark)
        untraced_s = time.perf_counter() - t
    walls, st = _traced(run, tags, warmup=tags["extract_mixed"])

    def busy(tag, minus=None):
        return _layer(st, tag, "busy_s") - (_layer(st, minus, "busy_s") if minus else 0.0)

    # the extract chain's metrics come from its median round, by the
    # extract prefix's wall time.  The self time of each layer is its
    # prefix's job seconds minus the previous prefix's; they add up to
    # the extract prefix's job seconds, and the remainder to its wall
    # time is driver time outside any Spark job (planning, submission)
    rounds = sorted(range(EXTRACT_ROUNDS), key=lambda r: walls[f"extract#{r}"])
    scan, seg, cls, ext = (f"{k}#{rounds[len(rounds) // 2]}" for k in chain)
    job_s = {k: _layer(st, k, "job_s") for k in (scan, seg, cls, ext)}
    return {
        "scan.busy_s": busy(scan),
        "scan.tasks": _layer(st, scan, "tasks"),
        "scan.bytes_in": _layer(st, scan, "files_read_bytes"),
        "segment.busy_s": busy(seg, scan),
        "segment.python_worker_s": _layer(st, seg, "python_worker_s"),
        "segment.rows_out": _layer(st, seg, "python_rows_out"),
        "segment.bytes_to_python": _layer(st, seg, "bytes_to_python"),
        "segment.bytes_from_python": _layer(st, seg, "bytes_from_python"),
        "classify.busy_s": busy(cls, seg),
        # the stages after assemble's exchange, plus the shuffle write
        # that feeds them
        "assemble.busy_s": _layer(st, ext, "shuffle_read_busy_s")
        + _layer(st, ext, "shuffle_write_s"),
        "assemble.shuffle_write_bytes": _layer(st, ext, "shuffle_write_bytes"),
        "assemble.fetch_wait_s": _layer(st, ext, "fetch_wait_s"),
        "assemble.spill_bytes": _layer(st, ext, "spill_bytes"),
        "extract.self.scan_s": job_s[scan],
        "extract.self.segment_s": job_s[seg] - job_s[scan],
        "extract.self.classify_s": job_s[cls] - job_s[seg],
        "extract.self.assemble_s": job_s[ext] - job_s[cls],
        "extract.traced_wall_s": walls[ext],
        "extract.self_remainder_s": walls[ext] - job_s[ext],
        "layout.busy_s": busy("layout"),
        "layout.python_worker_s": _layer(st, "layout", "python_worker_s"),
        "curate.gate.busy_s": busy("curate.gate", "extract_mixed"),
        "curate.gate.rejected": counts["rejected"],
        "curate.dedup_exact.busy_s": busy("curate.dedup_exact", "curate.gate"),
        "curate.dedup_exact.dups": counts["dups"],
        "curate.dedup_near.busy_s": busy("curate.dedup_near", "curate.dedup_exact"),
        "curate.dedup_near.candidates": counts["candidates"],
        "curate.dedup_near.confirmed": counts["confirmed"],
        "curate.dedup_near.confirm_ratio": counts["confirmed"] / max(1, counts["candidates"]),
        "curate.components.rounds": counts["rounds"],
        "curate.components.busy_s": busy("curate.components"),
        "curate.corpus_health.busy_s": busy("curate.corpus_health"),
        "sink.busy_s": busy("sink", "sink.noop"),
        "sink.bytes_written": _layer(st, "sink", "output_bytes"),
        "jvm.gc_s": _gc_s(st),
        "jvm.peak_rss_mb": run.bench.peak_rss_mb(),
        "trace.overhead_s": walls["curate.noop"] - untraced_s,
    }


# --------------------------------------------------------------------
# catalog_sf01

#: The entries timed per pass: a fixed cross-section of the bench.py
#: HEADLINE list (joins, windows, an aggregate, text and vector
#: kernels, an iterative loop, three streaming twins), small enough
#: that the DuckDB check and three timed passes fit one run.
CATALOG_ENTRIES = [
    "pricing_summary",
    "revenue_by_nation",
    "top_suppliers_per_nation",
    "asof_attach",
    "sessionize",
    "minhash_signatures",
    "cosine_topk",
    "pca_power_iter",
    "stream_windowed_counts",
    "stream_hll_registers",
    "stream_dedup_replay",
]

#: Entries run once in the traced run only, because they or their
#: DuckDB oracle cost more than a timed run can spend: the components
#: loop (its oracle takes about 45 s) and the other two streaming
#: twins (5 s and 16 s each on 4 cores).
TRACE_ONLY_ENTRIES = [
    "dedup_canonicalize",
    "stream_sessionize",
    "stream_recrawl_delta",
]

#: the slowest entries on the first 4-core baseline (0.85 s or more):
#: each gets a ``query.<name>.s`` per-layer metric in the traced run
SLOW_ENTRIES = [
    "revenue_by_nation",
    "stream_windowed_counts",
    "stream_hll_registers",
    "dedup_canonicalize",
    "stream_sessionize",
    "stream_dedup_replay",
    "stream_recrawl_delta",
]

#: tables the split-layout copy exercises
SPLIT_TABLES = ("lineitem", "orders", "events")

LAYER_UNITS.update({f"query.{name}.s": "s" for name in SLOW_ENTRIES})


def _digest(rows, cols) -> tuple:
    """(row count, order-insensitive digest) with floats rounded as
    ``clara_ocr_spark.oracle`` rounds them."""
    from clara_ocr_spark.oracle import _canon

    canon = _canon(rows, cols)
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


def _check_entry(spark, con, sf_dir: str, name: str) -> bool:
    from clara_ocr_spark.queries import REGISTRY

    fn, sql = REGISTRY[name]
    try:
        df = fn(spark, sf_dir)
        got = _digest([tuple(r) for r in df.collect()], df.columns)
        res = con.sql(sql)
        want = _digest(res.fetchall(), list(res.columns))
    except Exception as e:  # an entry that raises is a failed operation
        print(f"catalog entry {name} raised: {e!r}"[:400], flush=True)
        return False
    if got != want:
        print(f"catalog entry {name}: {got} != oracle {want}", flush=True)
    return got == want


def _table_digest(con, path: str) -> tuple:
    return con.sql(
        f"select count(*), sum(hash(t)) from read_parquet('{path}') t"
    ).fetchone()


def _touch(df):
    """One hash over every column: the scan reads every value."""
    from pyspark.sql import functions as F

    return df.select(F.xxhash64(*df.columns))


def _scans_split_table(name: str) -> bool:
    from clara_ocr_spark.queries import REGISTRY

    return any(re.search(rf"\b{t}\b", REGISTRY[name][1]) for t in SPLIT_TABLES)


def catalog_sf01(run: Run) -> Result:
    from clara_ocr_spark.oracle import TABLES, duck_connect
    from clara_ocr_spark.queries import REGISTRY

    sf_dir = inputs.SF01_DIR

    def table(spark, name, d=sf_dir):
        return spark.read.parquet(f"{d}/{name}.parquet")

    def readable(spark):
        # every table's schema resolved, and the largest one read
        for name in TABLES:
            table(spark, name)
        table(spark, "lineitem").limit(1).collect()

    b = run.bench
    setup_s = b.setup(run.t0, 0.0, readable)
    run.mark("setup")
    order = list(CATALOG_ENTRIES)
    random.Random(run.seed).shuffle(order)

    # correctness against the DuckDB oracle; also the warm-up pass
    con = duck_connect(sf_dir)
    bad = {name for name in order if not _check_entry(b.spark, con, sf_dir, name)}
    run.mark("check")
    per = {name: [] for name in order if name not in bad}
    start, passes = time.perf_counter(), 0
    # at least three passes: the first still warms the JIT, and the
    # median of three leaves it out
    while passes < 3 or time.perf_counter() - start < run.seconds:
        passes += 1
        for name, ts in per.items():
            t = time.perf_counter()
            force(REGISTRY[name][0](b.spark, sf_dir))
            ts.append(time.perf_counter() - t)
    run.mark("timed")
    med = {name: median(ts) for name, ts in per.items()}
    run.info["op_s"] = {name: [round(x, 3) for x in ts] for name, ts in per.items()}
    run.info["peak_rss_mb"] = round(b.peak_rss_mb(), 1)
    attempted, failed = len(order), len(bad)
    if not run.trace:
        return Result(
            _e2e(setup_s, len(med) / sum(med.values()), geomean(med.values())),
            attempted, failed,
        )

    # the same rows with many row groups per file: every scan of them
    # has one split per core or more
    split_dir = inputs.write_split_copy(
        sf_dir, os.path.join(run.work, "sf01_split"), 4 * b.cores
    )
    for name in TABLES:
        attempted += 1
        failed += _table_digest(con, f"{sf_dir}/{name}.parquet") != _table_digest(
            con, f"{split_dir}/{name}.parquet"
        )
    con.close()
    split_entries = [n for n in med if _scans_split_table(n)]
    tags = {
        "scan": lambda s: [force(_touch(table(s, n))) for n in TABLES],
        "split.scan": lambda s: [force(_touch(table(s, n, split_dir))) for n in SPLIT_TABLES],
    }
    for name in [*med, *TRACE_ONLY_ENTRIES]:
        tags[f"query.{name}"] = lambda s, fn=REGISTRY[name][0]: force(fn(s, sf_dir))
    for name in split_entries:
        tags[f"split.query.{name}"] = lambda s, fn=REGISTRY[name][0]: force(fn(s, split_dir))
    walls, st = _traced(run, tags)
    q = [v for k, v in st.items() if k.startswith("query.")]
    vals = {
        "scan.busy_s": _layer(st, "scan", "busy_s"),
        "scan.tasks": _layer(st, "scan", "tasks"),
        "scan.bytes_in": _layer(st, "scan", "files_read_bytes"),
        "queries.shuffle_stages": sum(v["shuffle_stages"] for v in q),
        "queries.shuffle_write_bytes": sum(v["shuffle_write_bytes"] for v in q),
        "queries.spill_bytes": sum(v["spill_bytes"] for v in q),
        "streaming.drain_s": sum(v for k, v in walls.items() if k.startswith("query.stream_")),
        "split.scan.tasks": _layer(st, "split.scan", "tasks"),
        "split.geomean_s": geomean([walls[f"split.query.{n}"] for n in split_entries]),
        "jvm.gc_s": _gc_s(st),
        "jvm.peak_rss_mb": b.peak_rss_mb(),
        "trace.overhead_s": sum(walls[f"query.{n}"] for n in med) - sum(med.values()),
    }
    for name in SLOW_ENTRIES:
        vals[f"query.{name}.s"] = walls.get(f"query.{name}", 0.0)
    return Result(_per_layer(vals), attempted, failed)

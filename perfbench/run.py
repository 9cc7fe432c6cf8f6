"""Benchmark of the quality-filter pipeline on local[nproc].

    python3 perfbench/run.py --workload filter_parquet --seed 1 --seconds 10 --trace 0

Workloads (closed loop: one driver, one pass at a time):

- ``filter_parquet``: seeded synthetic pages as parquet with ``text``
  present; a pass is ``spark.read.parquet`` -> ``run_quality_pipeline``
  -> noop sink.
- ``crawl_warc``: the same kind of pages in per-record-gzipped
  ``.warc.gz`` archives; a pass is the job's batch path: ``read_warc``
  -> ``run_quality_pipeline`` -> ``persist`` -> ``count`` ->
  ``audit.write_stage(metrics=metrics_table(...))`` into fresh dirs.
- ``corpus_queries``: a round of text-quality registry entries over a
  seeded ``documents`` table, each to a noop sink.

Protocol: the input is generated from ``--seed`` before anything is
timed. Then one SparkSession on ``local[nproc]``, the plan is built
once, a fixed number of warm-up passes run, and timed passes run until
``--seconds`` have been measured. ``docs_per_s`` is total docs over
total timed seconds (``queries_s``: seconds per round). The output is
checked outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same protocol with Spark's event log on, then times successive
pipeline prefixes (or reads the per-query spans), and prints the
per-layer metrics. The last line of stdout is one JSON object; the
full run record goes to stderr and the spans to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import inputs
import procstat
from spans import Tracer, event_log_conf, python_stage_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")

# (docs, files, warm-up passes). Sizes and warm-up counts fit a run of
# each listed workload into its share of the benchmark's time budget on
# 4 cores; README.md gives the arithmetic and the warm-up curve.
# corpus_queries is not listed in BENCHMARK.json (README.md says why).
WORKLOADS = {
    "filter_parquet": (16_000, 8, 3),
    "crawl_warc": (4_000, 8, 2),
    "corpus_queries": (1_000, 1, 2),
}
MIN_TIMED_PASSES = 2
PREFIX_WARM, PREFIX_TIMED = 1, 2

REASONS = (
    "too_short", "too_long", "word_len", "symbol_ratio", "no_stop_words",
    "dup_lines", "dup_ngrams", "non_alpha", "ellipsis",
)
RULES = ("email", "phone", "ssn", "ipv4", "toxic")
N_BUCKETS = 64

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------
def observe(df) -> dict:
    """Counts, lineage buckets and an order-independent digest of (url,
    keep, scrubbed_text) over a scored table, in one aggregate."""
    from pyspark.sql import functions as F

    h = F.xxhash64("url", "keep", "scrubbed_text")
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("lineage_bucket").alias("buckets"),
        F.sum(F.col("keep").cast("long")).alias("keep"),
        F.sum((F.size("drop_reasons") > 0).cast("long")).alias("dropped"),
        *[
            F.sum(F.array_contains("drop_reasons", r).cast("long")).alias(f"drop_{r}")
            for r in REASONS
        ],
        *[F.sum(f"scrub_hits.{r}").alias(f"hits_{r}") for r in RULES],
        F.bit_xor(h).alias("xor"),
        F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("sum"),
    ).first().asDict()
    out = {k: int(row[k]) for k in ("rows", "buckets", "keep", "dropped")}
    out["drop"] = {r: int(row[f"drop_{r}"]) for r in REASONS}
    out["hits"] = {r: int(row[f"hits_{r}"]) for r in RULES}
    out["digest"] = f"{row['xor'] & (2**64 - 1):016x}-{row['sum']:x}"
    return out


def _dir_stats(*paths: str) -> tuple[int, int]:
    files = size = 0
    for p in paths:
        for dirpath, _dirs, names in os.walk(p):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class Pipeline:
    """A pipeline workload: ``build`` makes ``self.scored`` once and a
    pass executes it; subclasses give the source and the sink."""

    ops_per_pass = check_ops = 1

    def __init__(self, spark, inp: dict, work: str):
        self.spark, self.inp, self.work = spark, inp, work

    def after_pass(self) -> None:
        pass

    def throughput(self, ok_times: list[float]) -> dict:
        return {"docs_per_s": self.inp["n_docs"] * len(ok_times) / sum(ok_times)}

    def stage_spans(self) -> dict:
        return {}

    def check(self) -> tuple[dict, list[str]]:
        obs, problems = self.observed()
        buckets = obs.pop("buckets")
        if buckets != N_BUCKETS:
            problems.append(f"{buckets} lineage buckets, want {N_BUCKETS}")
        if obs["rows"] != self.inp["n_docs"]:
            problems.append(f"rows out {obs['rows']} != docs in {self.inp['n_docs']}")
        return obs, problems

    def trace_layers(self, tracer, obs: dict) -> tuple[dict, dict]:
        """Per-layer metrics measurable while the session is up."""
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(self.counts())
        layers.update(self.stage_spans())
        med, spread = prefix_layers(self, tracer)
        layers.update(med)
        layers["quality.keep"] = obs["keep"]
        for r in REASONS:
            layers[f"quality.drop.{r}"] = obs["drop"][r]
        for r in RULES:
            layers[f"scrub.hits.{r}"] = obs["hits"][r]
        base = layers["sources.docs_in"]
        layers["quality.keep_ratio"] = obs["keep"] / base
        layers["quality.keep_ratio_base"] = base
        return layers, spread


class FilterParquet(Pipeline):
    """Parquet pages with text present -> pipeline -> noop sink."""

    def source(self):
        return self.spark.read.parquet(self.inp["path"])

    def build(self) -> None:
        from textcleaning_spark.plans.pipeline import run_quality_pipeline

        self.scored = run_quality_pipeline(self.source())

    def run_pass(self, tracer) -> int:
        self.scored.write.format("noop").mode("overwrite").save()
        return 0

    def observed(self) -> tuple[dict, list[str]]:
        return observe(self.scored), []

    def source_prefixes(self):
        """(layer, df) pairs timed before the pipeline stages, which
        start from ``self.source()``."""
        return [("sources.parquet_scan_s", self.source().drop("html"))]

    def counts(self) -> dict:
        from pyspark.sql import functions as F

        src = self.source()
        return {
            "sources.docs_in": src.count(),
            "sources.warc_records": 0,
            "pipeline.docs_from_html": src.filter(F.col("text").isNull()).count(),
        }


class CrawlWarc(Pipeline):
    """WARC archives -> pipeline -> persist/count -> write_stage."""

    def __init__(self, spark, inp: dict, work: str):
        super().__init__(spark, inp, work)
        self.glob = os.path.join(inp["path"], "seg-*.warc.gz")
        self.n = 0
        self.done: list[str] = []

    def source(self):
        from textcleaning_spark.sources.warc import read_warc

        return read_warc(self.spark, self.glob)

    def build(self) -> None:
        from textcleaning_spark.plans.pipeline import metrics_table, run_quality_pipeline

        self.scored = run_quality_pipeline(self.source())
        self.metrics = metrics_table(self.scored)

    def run_pass(self, tracer) -> int:
        from pyspark import StorageLevel

        from textcleaning_spark.plans import audit

        out = os.path.join(self.work, f"out-{self.n}")
        aud = os.path.join(self.work, f"audit-{self.n}")
        self.n += 1
        with tracer.span("audit.persist_count"):
            todo = self.scored.persist(StorageLevel.MEMORY_AND_DISK)
            rows = todo.count()
        try:
            with tracer.span("audit.write_stage"):
                audit.write_stage(
                    todo, self.spark, out, aud, "quality_filter", metrics=self.metrics
                )
        finally:
            todo.unpersist()
        self.done += [out, aud]
        return int(rows != self.inp["n_docs"])

    def after_pass(self) -> None:
        # keep only the newest pass's output, for the check
        for p in self.done[:-2]:
            shutil.rmtree(p, ignore_errors=True)
        self.done = self.done[-2:]

    def observed(self) -> tuple[dict, list[str]]:
        from pyspark.sql import functions as F

        out, aud = self.done
        written = self.spark.read.parquet(out)
        obs = observe(written)
        problems = []
        n_docs = self.spark.read.parquet(aud).agg(F.sum("n_docs")).first()[0]
        if n_docs != obs["rows"]:
            problems.append(f"metrics_table n_docs sum {n_docs} != rows written {obs['rows']}")
        return obs, problems

    def source_prefixes(self):
        files = self.spark.read.format("binaryFile").load(self.glob).select("content")
        return [("sources.binaryfile_s", files), ("sources.read_warc_s", self.source())]

    def counts(self) -> dict:
        records = self.source().count()
        return {
            "sources.docs_in": records,
            "sources.warc_records": records,
            "pipeline.docs_from_html": records,
        }

    def stage_spans(self) -> dict:
        files, size = _dir_stats(*self.done)
        return {"audit.files_written": files, "audit.bytes_written": size}


class CorpusQueries:
    """The text-quality registry entries over a seeded documents table;
    a pass is one round of the list, each entry to a noop sink."""

    NAMES = (
        "doc_quality_profile", "tf_df_idf", "vocab_topk", "exact_dedup",
        "minhash_signatures", "near_dup_clusters", "dedup_keep_verdict",
        "pipeline_funnel", "rule_hit_profile", "host_pagerank",
        "ppl_tertile_routing", "cleaned_text",
    )
    ops_per_pass = check_ops = len(NAMES)

    def __init__(self, spark, inp: dict, work: str):
        self.spark, self.sf_dir = spark, inp["path"]

    def build(self) -> None:
        from textcleaning_spark import queries as Q

        self.qs = Q.queries()

    def run_pass(self, tracer) -> int:
        fails = 0
        for name in self.NAMES:
            try:
                with tracer.span(f"queries.{name}.plan"):
                    df = self.qs[name](self.spark, self.sf_dir)
                with tracer.span(f"queries.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                traceback.print_exc()
                fails += 1
        return fails

    def after_pass(self) -> None:
        pass

    def throughput(self, ok_times: list[float]) -> dict:
        return {"queries_s": sum(ok_times) / len(ok_times)}

    def check(self) -> tuple[dict, list[str]]:
        """Each entry value-equal to its DuckDB oracle, with the repo's
        own comparison (tests/oracle_harness.compare)."""
        from textcleaning_spark import queries as Q

        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_harness import compare, duckdb_connect

        con = duckdb_connect(self.sf_dir)
        sql = Q.oracle_sql()
        problems = []
        for name in self.NAMES:
            try:
                compare(self.qs[name](self.spark, self.sf_dir), con, sql[name], name)
            except Exception as e:  # a mismatch or a failed query fails one check
                problems.append(f"{name}: {str(e)[:300]}")
        con.close()
        return {"oracle_equal": len(self.NAMES) - len(problems)}, problems

    def trace_layers(self, tracer, obs: dict) -> tuple[dict, dict]:
        timed = {s["id"] for s in tracer.spans if s["name"] == "timed.pass"}
        layers = {}
        for name in self.NAMES:
            for part in ("plan", "exec"):
                key = f"queries.{name}.{part}"
                layers[key + "_s"] = statistics.median(
                    s["seconds"] for s in tracer.spans
                    if s["name"] == key and s["parent"] in timed
                )
        return layers, {}


WORKLOAD_CLASSES = {
    "filter_parquet": FilterParquet,
    "crawl_warc": CrawlWarc,
    "corpus_queries": CorpusQueries,
}


# ---------------------------------------------------------------------------
# protocol
# ---------------------------------------------------------------------------
def run_passes(wl, tracer, name: str, count: int = 0, seconds: float = 0.0):
    """Closed loop of passes: ``count`` of them, or as many as fill
    ``seconds`` (at least MIN_TIMED_PASSES). Returns (pass seconds,
    failed operations per pass)."""
    times, fails = [], []
    t0 = time.perf_counter()
    while (len(times) < count) if count else (
        time.perf_counter() - t0 < seconds or len(times) < MIN_TIMED_PASSES
    ):
        cpu0, steal0 = procstat.tree_cpu_s(os.getpid()), procstat.steal_s()
        with tracer.span(name, index=len(times)) as sp:
            try:
                failed = wl.run_pass(tracer)
            except Exception:
                traceback.print_exc()
                failed = 1
        sp["cpu_s"] = procstat.tree_cpu_s(os.getpid()) - cpu0
        sp["steal_s"] = procstat.steal_s() - steal0
        times.append(sp["seconds"])
        fails.append(failed)
        wl.after_pass()
    return times, fails


def prefix_layers(wl, tracer) -> tuple[dict, dict]:
    """Prefix differencing: time successive prefixes of the pipeline
    (each warmed, then the median of PREFIX_TIMED passes to a noop
    sink). A layer's self time is prefix(k) - prefix(k-1)."""
    from pyspark.sql import functions as F

    from textcleaning_spark.config import DEFAULT_CONFIG as cfg
    from textcleaning_spark.functions.scrub import rule_hits, scrub_col
    from textcleaning_spark.operators.quality import drop_reasons, score_documents
    from textcleaning_spark.plans.pipeline import detect_language, extract_text

    stages = [
        ("pipeline.extract_text_s", extract_text),
        ("langid.detect_language_s", detect_language),
        ("quality.score_documents_s", lambda d: score_documents(d, "text", cfg.quality)),
        ("quality.drop_reasons_s", lambda d: drop_reasons(d, cfg.quality)),
        ("scrub.scrub_col_s", lambda d: d.withColumn(
            "scrubbed_text",
            F.when(F.col("keep"), scrub_col(F.col("text"), cfg.scrub)).otherwise(F.lit(None)),
        )),
        ("scrub.rule_hits_s", lambda d: d.withColumn(
            "scrub_hits", rule_hits(F.col("text"), cfg.scrub)
        )),
    ]
    prefixes = wl.source_prefixes()
    df = wl.source()
    for layer, fn in stages:
        df = fn(df)
        prefixes.append((layer, df.drop("html")))

    medians, spread = {}, {}
    prev = 0.0
    for layer, pdf in prefixes:
        times = []
        for i in range(PREFIX_WARM + PREFIX_TIMED):
            with tracer.span("prefix." + layer, warm=i < PREFIX_WARM) as sp:
                pdf.write.format("noop").mode("overwrite").save()
            if i >= PREFIX_WARM:
                times.append(sp["seconds"])
        med = statistics.median(times)
        medians[layer] = med - prev
        spread[layer] = {"prefix_median_s": med, "min_s": min(times), "max_s": max(times)}
        prev = med
    return medians, spread


def load_pins() -> dict:
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f)


def compare_pins(pins: dict, workload: str, seed: int, inp: dict, obs: dict) -> list[str]:
    pinned = pins.get(workload, {}).get(f"n{inp['n_docs']}", {}).get(str(seed))
    if pinned is None:
        return []
    problems = []
    if pinned["input_digest"] != inp["digest"]:
        problems.append("input digest differs from the one pinned for this seed")
    if pinned["output"] != obs:
        problems.append(f"output {obs} != pinned {pinned['output']}")
    return problems


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    n_docs, n_files, warmups = WORKLOADS[workload]
    sys.path.insert(0, ROOT)
    # the program must be importable; in a checkout without it, fail here
    from textcleaning_spark.session import get_spark

    load_before = os.getloadavg()[0]
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tracer = Tracer(run_id)
    problems: list[str] = []

    t_gen = time.perf_counter()
    with tracer.span("inputs.prepare"):
        inp = inputs.prepare(CACHE, workload, seed, n_docs, n_files)
        canary = inputs.canary_digest()
    gen_s = time.perf_counter() - t_gen
    pins = load_pins()
    if canary != pins["generator_canary"]:
        problems.append("sources.pages output changed: generator canary digest differs")

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))

    with tracer.span("session.start") as sp_start:
        spark = get_spark(f"perfbench-{workload}", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOAD_CLASSES[workload](spark, inp, work)
        with tracer.span("plan.build") as sp_plan:
            wl.build()
        with tracer.span("session.warmup") as sp_warm:
            warm_times, warm_fails = run_passes(wl, tracer, "warmup.pass", count=warmups)
        setup_s = process_age_s() - gen_s
        if any(warm_fails):
            problems.append("a warm-up pass failed")

        with procstat.RssSampler() as rss:
            times, fails = run_passes(wl, tracer, "timed.pass", seconds=seconds)
        timed = [s for s in tracer.spans if s["name"] == "timed.pass"]
        # median over timed passes of each pass's peak: one pass that
        # briefly forks extra Python workers does not set the figure
        peak_rss = statistics.median(rss.peak(s["start"], s["end"]) for s in timed)
        ok_times = [t for t, f in zip(times, fails) if not f]
        speed = wl.throughput(ok_times) if ok_times else {}

        with tracer.span("check"):
            try:
                obs, check_problems = wl.check()
                check_problems += compare_pins(pins, workload, seed, inp, obs)
            except Exception:
                traceback.print_exc()
                obs, check_problems = None, ["output check raised"]
        problems += check_problems

        layer_spread: dict = {}
        if trace and obs is not None:
            layers, layer_spread = wl.trace_layers(tracer, obs)
    except BaseException:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        raise
    stop_spark(spark)

    attempted = len(times) * wl.ops_per_pass + wl.check_ops
    failed = sum(fails) + min(len(check_problems), wl.check_ops)
    if trace and obs is not None:
        layers["session.start_s"] = sp_start["seconds"]
        layers["session.warmup_s"] = sp_warm["seconds"]
        layers["memory.peak_rss_mb"] = peak_rss / 2**20
        if isinstance(wl, Pipeline):
            # Spark writes the event log out when the session stops
            per_pass = python_stage_metrics(
                os.path.join(work, "eventlog"), [(s["start"], s["end"]) for s in timed]
            )
            for k in ("python_s", "bytes_to_python", "bytes_from_python"):
                layers["langid." + k] = statistics.median(p[k] for p in per_pass)
            timed_ids = {s["id"] for s in timed}
            for name in ("audit.persist_count", "audit.write_stage"):
                vals = [s["seconds"] for s in tracer.spans
                        if s["name"] == name and s["parent"] in timed_ids]
                if vals:
                    layers[name + "_s"] = statistics.median(vals)
            layers["trace.full_pass_docs_per_s"] = speed.get("docs_per_s", 0.0)
        metrics = {k: {"value": v, "unit": PER_LAYER.get(k, "s")} for k, v in layers.items()}
    elif not trace:
        values = {**speed, "setup_s": setup_s}
        metrics = {k: {"value": v, "unit": END_TO_END.get(k, "s")} for k, v in values.items()}
    else:
        metrics = {}

    record = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "input": {k: inp[k] for k in ("digest", "n_docs", "n_files", "format")},
        "input_generation_s": gen_s,
        "pinned": str(seed) in pins.get(workload, {}).get(f"n{n_docs}", {}),
        "env": procstat.environment(ROOT, cores),
        "loadavg_1m": {"before": load_before, "after": os.getloadavg()[0]},
        "plan_build_s": sp_plan["seconds"],
        "warmup_pass_s": warm_times,
        "timed_pass_s": times,
        "timed_pass_cpu_s": [s["cpu_s"] for s in timed],
        "timed_pass_steal_s": [s["steal_s"] for s in timed],
        "error_rate": failed / attempted,
        "end_to_end": speed,
        "peak_rss_mb": peak_rss / 2**20,
        "observed": obs,
        "problems": problems,
        "layer_spread": layer_spread,
    }
    os.makedirs(WORK, exist_ok=True)
    tracer.write(os.path.join(WORK, f"trace-{run_id}.json"), {"record": record})
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record), file=sys.stderr)
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The extraction engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload crawl_extract --seed 7 --seconds 4 --trace 0

Run it from the repository root. It makes its inputs from ``--seed`` (cached
under ``.perfbench_work/``), starts one ``local[N]`` session with N from
``os.sched_getaffinity``, checks the outputs, repeats warm passes for
``--seconds`` seconds and prints a summary followed by one JSON line: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. README.md in this directory says what each workload and
metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import checks
import inputs
import kerneltrace
import sparkside

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170
# Untimed warm passes before the timed ones: pass times fall over the first
# few warm passes (JIT, the workers' caches) before they level off.
WARMUP_S = 6.0
T0 = time.perf_counter()

# Page window per workload: base index, pages, filler blocks per page. The
# seed picks the window [base + slot*n, base + (slot+1)*n) with
# slot = seed mod SEED_SLOTS, so that any integer seed, negative or large,
# keeps page indices below 2**31 (the renderer's timestamps overflow the
# calendar near index 7e9). Sizes keep an untraced run at 30-40 s on 4
# CPUs (a traced one at 45-65 s), so that 70 runs fit well inside an hour.
PAGES = {
    "crawl_extract": dict(base=0, n=800, filler=30),
    "small_pages": dict(base=0, n=3200, filler=0),
    "crawl_commit_links": dict(base=1_000_000_000, n=300, filler=30),
}
SEED_SLOTS = 500_000

# The query-suite probe (traced small_pages runs only): DuckDB-oracled
# queries over the modules the extraction workloads leave unmeasured, the
# three whose batch kernels are Python (mapInPandas) UDFs and one
# JVM-expression module. Like small_pages, they are dominated by per-batch
# and per-task Python costs.
SUITE = (
    "simhash",             # functions/dedup: SimHash signatures
    "embedding_near_dup",  # functions/vecops: blocked cosine in mapInPandas
    "media_decode",        # sources/media payloads + functions/mediaops codecs
    "warc_roundtrip",      # sources/warc: WARC write + parse
)

END_TO_END = {"setup_s": "s", "job_s": "s", "docs_per_s": "docs/s",
              "mb_per_s": "MB/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "charset.sniff_decode_us": "us", "tokenizer.tokenize_us": "us",
    "tokenizer.nodes_per_doc": "count",
    "boilerplate.text_and_scored_us": "us",
    "boilerplate.select_content_us": "us",
    "carriers.collect_scripts_us": "us", "profiles.extract_page_us": "us",
    "profiles.rule_hit_ratio": "ratio", "pdfkit.extract_pdf_text_us": "us",
    "pipeline.envelope_json_us": "us", "pipeline.extract_one_self_us": "us",
    "pipeline.arrow_assembly_us": "us", "links.links_of_us": "us",
    "trace.kernel_us_per_doc": "us", "trace.overhead_share": "ratio",
    "trace.self_sum_share": "ratio",
    "spark.session_s": "s", "spark.first_pass_excess_s": "s",
    "spark.scan_s": "s", "spark.python_boot_s": "s",
    "spark.python_init_s": "s", "spark.python_total_s": "s",
    "spark.python_bytes_sent": "B", "spark.python_bytes_received": "B",
    "spark.shuffle_bytes": "B", "spark.tasks": "count", "spark.jobs": "count",
    "spark.slot_busy_share": "ratio", "spark.docs_per_s_1core": "docs/s",
    "spark.scaling_eff_1_to_4": "ratio",
    "pipeline.write_snapshot_s": "s", "pipeline.metrics_s": "s",
    "links.extract_links_s": "s", "links.host_link_graph_s": "s",
    "links.rows": "count", "links.edges": "count",
    "control.docs_per_s_1t_pre": "docs/s",
    "control.docs_per_s_1t_post": "docs/s",
    "suite.jobs": "count",
    **{f"suite.{q}_s": "s" for q in SUITE},
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _median_dict(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


class Run:
    """One run's session, job counter and failure tally."""

    def __init__(self, spark, seconds: float):
        self.spark, self.seconds = spark, seconds
        self.jobs = sparkside.JobCounter(spark)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, attempted: int, failed: int, notes=()) -> None:
        self.attempted += attempted
        self.failed += failed
        self.notes.extend(notes)

    def same(self, what: str, got, want) -> None:
        """One operation: a repeated pass must reproduce the checked one."""
        note = f"{what} differs from the checked pass"
        self.record(1, int(got != want), [] if got == want else [note])

    def timed(self, step):
        """(seconds, step result, Spark jobs, completed tasks) of ``step``."""
        group = self.jobs.begin()
        t0 = time.perf_counter()
        out = step()
        dt = time.perf_counter() - t0
        return dt, out, *self.jobs.count(group)

    def passes(self, one_pass, seconds=None, min_passes: int = 3) -> list:
        """Repeat ``one_pass`` until ``seconds`` (default: the run's) have
        elapsed, at least ``min_passes`` times."""
        seconds = self.seconds if seconds is None else seconds
        out, t0 = [], time.perf_counter()
        while len(out) < min_passes or time.perf_counter() - t0 < seconds:
            out.append(one_pass())
        return out

    def warm_passes(self, one_pass) -> tuple[list, list]:
        """(warm-up passes, timed passes): ``WARMUP_S`` seconds of passes
        while the JIT and the workers' caches settle, then the run's
        ``seconds`` of timed ones."""
        return self.passes(one_pass, WARMUP_S, 1), self.passes(one_pass)


def _extract_df(spark, paths, url_index, one_task: bool = False):
    from html_parser_spark.job import pipeline as P
    pages = spark.read.parquet(*paths)
    if one_task:
        pages = pages.coalesce(1)
    return (P.extract_pages(pages)
            .select("url", "status", "profile", "envelope",
                    checks.sampled_text(url_index)))


# -- extraction: scan → extract_pages → collect ------------------------------

def run_extract(run: Run, corpus) -> dict:
    url_index = corpus.url_index()

    def one_pass():
        df = _extract_df(run.spark, [corpus.path], url_index)
        dt, rows, jobs, tasks = run.timed(df.collect)
        return dt, sorted(rows), dict(sparkside.plan_metrics(df), jobs=jobs,
                                      tasks=tasks)

    cold_s, checked, _ = one_pass()
    run.record(*checks.check_extracted(
        checked, url_index, corpus.html_of(checks.text_sample(url_index))))
    log("cold pass checked")
    warmup, warm = run.warm_passes(one_pass)
    for _, rows, _ in warmup + warm:
        run.same("extraction output", rows, checked)
    return {"cold_s": cold_s, "warmup_s": [t for t, _, _ in warmup],
            "pass_s": [t for t, _, _ in warm],
            "plan": _median_dict([m for _, _, m in warm])}


# -- commit + links: extract → write_snapshot → metrics; links → graph --------

def run_commit_links(run: Run, corpus) -> dict:
    from html_parser_spark.extract import links as L
    from html_parser_spark.job import pipeline as P
    spark = run.spark
    tables = os.path.join(WORK, "tables")
    shutil.rmtree(tables, ignore_errors=True)
    n_pass = iter(range(1 << 30))

    def one_pass():
        k = next(n_pass)
        table = os.path.join(tables, f"t{k}")
        steps = {}

        def job():
            t0 = time.perf_counter()
            P.write_snapshot(P.extract_pages(spark.read.parquet(corpus.path)),
                             table, f"run{k}")
            t1 = time.perf_counter()
            (P.metrics_from_extracted(P.committed_table(spark, table))
             .write.mode("overwrite").parquet(os.path.join(table, "_metrics")))
            t2 = time.perf_counter()
            edges = graph.collect()
            steps.update(write_snapshot_s=t1 - t0, metrics_s=t2 - t1,
                         links_s=time.perf_counter() - t2)
            return sorted(edges)

        graph = L.host_link_graph(L.extract_links(spark.read.parquet(corpus.path)))
        dt, edges, jobs, tasks = run.timed(job)
        return dt, table, edges, dict(steps, **sparkside.plan_metrics(graph),
                                      jobs=jobs, tasks=tasks, edges=len(edges))

    cold_s, table, edges, cold = one_pass()
    url_index = corpus.url_index()
    committed = (P.committed_table(spark, table)
                 .select("url", "status", "profile", "envelope",
                         checks.sampled_text(url_index)).collect())
    run.record(*checks.check_extracted(
        committed, url_index, corpus.html_of(checks.text_sample(url_index))))
    got = cold["pythonNumRowsReceived"]
    run.record(1, int(got != corpus.n_links),
               [] if got == corpus.n_links else
               [f"links.rows {got}, Spark-free links_of count {corpus.n_links}"])
    log("cold pass checked")
    warmup, warm = run.warm_passes(one_pass)
    for _, _, got_edges, _ in warmup + warm:
        run.same("host link graph", got_edges, edges)
    shutil.rmtree(tables, ignore_errors=True)
    return {"cold_s": cold_s, "warmup_s": [t for t, _, _, _ in warmup],
            "pass_s": [t for t, _, _, _ in warm],
            "plan": _median_dict([m for _, _, _, m in warm])}


# -- query-suite probe --------------------------------------------------------

def suite_layers(run: Run, sf_dir: str) -> dict:
    """Cold pass (DuckDB-checked), then warm passes; per-query medians and
    Spark jobs per pass."""
    import __spark_entry__ as E
    queries, oracles = E.queries(), E.oracle_sql()

    def one_pass():
        times, results, jobs = {}, {}, 0
        for name in SUITE:
            # Building a query may itself run jobs, so it is timed too.
            dt, pdf, n_jobs, _ = run.timed(
                lambda: queries[name](run.spark, sf_dir).toPandas())
            times[name], results[name] = dt, pdf
            jobs += n_jobs
        return times, results, jobs

    _, checked, _ = one_pass()
    matched = 0
    for name in SUITE:
        ok = checks.duck_matches(checked[name], oracles[name], sf_dir)
        matched += ok
        run.record(1, int(not ok), [] if ok else [f"{name}: DuckDB mismatch"])
    print(f"query-suite DuckDB check: {matched}/{len(SUITE)} queries match "
          f"their oracle_sql() twin")
    warm = run.passes(one_pass, seconds=0)
    for _, results, _ in warm:
        for name in SUITE:
            run.same(name, checks.frame_key(results[name]),
                     checks.frame_key(checked[name]))
    layers = {f"suite.{q}_s": t
              for q, t in _median_dict([t for t, _, _ in warm]).items()}
    layers["suite.jobs"] = statistics.median(j for _, _, j in warm)
    return layers


def quarter_rates(run: Run, corpus) -> tuple[float, float]:
    """Extraction-plan docs/s on the window's first quarter: on N cores
    (mean of two passes), then as one task with the JVM and every Python
    worker pinned to one CPU, as a one-core host would run it (median of
    three passes; the last CPU, since the first takes more interrupts)."""
    from pyspark import SparkContext
    url_index = corpus.url_index()

    def rate(one_task: bool, passes: int) -> float:
        times = run.passes(lambda: run.timed(_extract_df(
            run.spark, corpus.quarter, url_index, one_task).collect)[0],
            seconds=0, min_passes=passes)
        return corpus.n_quarter / statistics.median(times)

    rate_n = rate(False, 2)
    jvm = SparkContext._gateway.proc.pid
    cpus = os.sched_getaffinity(0)
    sparkside.pin_tree(jvm, {max(cpus)})
    try:
        return rate_n, rate(True, 3)
    finally:
        sparkside.pin_tree(jvm, cpus)


def measure(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    spec = PAGES[workload]
    slot = seed % SEED_SLOTS
    corpus = inputs.PageCorpus(WORK, workload, spec["base"] + slot * spec["n"],
                               spec["n"], spec["filler"], cores,
                               with_links=workload == "crawl_commit_links")
    probe_suite = trace and workload == "small_pages"
    sf_dir = inputs.query_tables(WORK, slot) if probe_suite else None
    log("inputs ready")

    layers: dict = {}
    other_jvms = sparkside.jvms_alive()
    control_pre = kerneltrace.control_rate(spec["filler"])
    if trace:
        layers, tracers = kerneltrace.layer_split(
            corpus.head(200 if spec["filler"] else 800))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        for k, tr in enumerate(tracers):
            tr.dump(os.path.join(WORK, "traces", f"{workload}-s{seed}-{k}.jsonl"))
        log("kernel trace written")

    t0 = time.perf_counter()
    spark = sparkside.start_session(cores, ROOT, WORK)
    session_s = time.perf_counter() - t0
    log("session started")
    try:
        run = Run(spark, seconds)
        if workload == "crawl_commit_links":
            out = run_commit_links(run, corpus)
        else:
            out = run_extract(run, corpus)
        log(f"{len(out['pass_s'])} warm passes")
        if trace:
            rate_n, rate_1core = quarter_rates(run, corpus)
            log("single-core leg done")
        peak_mb = sparkside.peak_rss_mb(cores)
        if sf_dir:
            layers.update(suite_layers(run, sf_dir))
            log("query-suite probe done")
    finally:
        sparkside.stop_session(spark)
    control_post = kerneltrace.control_rate(spec["filler"])
    log("session stopped")

    job_s = statistics.median(out["pass_s"])
    plan = out["plan"]
    e2e = {
        "setup_s": session_s + max(out["cold_s"] - job_s, 0.0),
        "job_s": job_s,
        "docs_per_s": corpus.n / job_s,
        "mb_per_s": corpus.html_bytes / 1e6 / job_s,
        "peak_rss_mb": peak_mb,
    }
    has_links = workload == "crawl_commit_links"
    layers.update({
        "spark.session_s": session_s,
        "spark.first_pass_excess_s": out["cold_s"] - job_s,
        "spark.scan_s": plan["scanTime"] / 1e3,
        "spark.python_boot_s": plan["pythonBootTime"] / 1e3,
        "spark.python_init_s": plan["pythonInitTime"] / 1e3,
        "spark.python_total_s": plan["pythonTotalTime"] / 1e3,
        "spark.python_bytes_sent": plan["pythonDataSent"],
        "spark.python_bytes_received": plan["pythonDataReceived"],
        "spark.shuffle_bytes": plan["shuffleBytesWritten"],
        "spark.tasks": plan["tasks"],
        "spark.jobs": plan["jobs"],
        "spark.slot_busy_share": plan["pythonTotalTime"] / 1e3 / (job_s * cores),
        "spark.docs_per_s_1core": rate_1core if trace else 0.0,
        "spark.scaling_eff_1_to_4":
            rate_n / (cores * rate_1core) if trace else 0.0,
        "pipeline.write_snapshot_s": plan.get("write_snapshot_s", 0.0),
        "pipeline.metrics_s": plan.get("metrics_s", 0.0),
        "links.extract_links_s":
            plan["pythonTotalTime"] / 1e3 if has_links else 0.0,
        "links.host_link_graph_s": plan.get("links_s", 0.0),
        "links.rows": plan["pythonNumRowsReceived"] if has_links else 0,
        "links.edges": plan.get("edges", 0),
        "control.docs_per_s_1t_pre": control_pre,
        "control.docs_per_s_1t_post": control_post,
    })
    for k in PER_LAYER:
        layers.setdefault(k, 0.0)
    ref = kerneltrace.CONTROL_REF[spec["filler"]]
    contended = other_jvms > 0 or any(
        abs(c / ref - 1) > kerneltrace.CONTROL_BAND
        for c in (control_pre, control_post))
    return {"e2e": e2e, "layers": layers, "run": run, "cores": cores,
            "contended": contended, "control_ref": ref,
            "other_jvms": other_jvms,
            "cold_s": out["cold_s"], "warmup_s": out["warmup_s"],
            "pass_s": out["pass_s"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 0:
        ap.error("--seconds must be >= 0")

    sys.path.insert(0, ROOT)
    try:
        import html_parser_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
        from tests import oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    os.makedirs(WORK, exist_ok=True)
    res = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)

    run, e2e, layers = res["run"], res["e2e"], res["layers"]
    print(f"{args.workload} seed {args.seed} on local[{res['cores']}]:")
    for k, unit in END_TO_END.items():
        print(f"  {k:18s} {e2e[k]:12.4f} {unit}")
    if args.trace:
        print(f"  {'docs_per_s_1core':18s} "
              f"{layers['spark.docs_per_s_1core']:12.4f} docs/s (per-layer)")
    print(f"  {'warm passes':18s} {len(res['pass_s']):12d} "
          f"(min {min(res['pass_s']):.4f} s, max {max(res['pass_s']):.4f} s)")
    print(f"  {'failed_share':18s} {run.failed / run.attempted:12.4f} ratio "
          f"({run.failed} of {run.attempted} operations)")
    print(f"  control {layers['control.docs_per_s_1t_pre']:.1f} / "
          f"{layers['control.docs_per_s_1t_post']:.1f} docs/s single-thread "
          f"before / after (ref {res['control_ref']:.0f}), "
          f"other JVMs at start: {res['other_jvms']}, "
          f"contended: {res['contended']}")
    for note in run.notes[:20]:
        print(f"  check: {note}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({"end_to_end": e2e, "per_layer": layers,
                   "cold_pass_s": res["cold_s"],
                   "warmup_pass_s": res["warmup_s"], "warm_pass_s": res["pass_s"],
                   "failed": run.failed, "attempted": run.attempted,
                   "notes": run.notes}, f, indent=1)
    units, values = (PER_LAYER, layers) if args.trace else (END_TO_END, e2e)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

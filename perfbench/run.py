#!/usr/bin/env python3
"""The repository benchmark: crawl throughput end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload drip_chain --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

``--trace 0`` times whole crawls and prints the end-to-end metrics;
``--trace 1`` wraps the program's public entry points, counts Spark jobs per
round, reads the Spark event log and replays the extraction kernels, and
prints the per-layer metrics. Every crawl's output is checked; the last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}`` and the line before it carries provenance and detail. The exit
code is 0 only when every output check passed. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
SEED_SAMPLES = 2        # seed calls per run (a crawl's own seed counts)
HEAVY_SHARE = 0.9       # heavy rounds fetch >= this share of the largest


def declared_units() -> tuple[dict, dict]:
    """Metric name -> unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mini", action="store_true",
                    help="measure the warm-up corpus (self-test miniature)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    return args


# --------------------------------------------------------------------------
# small statistics helpers
# --------------------------------------------------------------------------

def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summary(values) -> dict:
    """Median, the highest of p90/p99/p99.9 with at least ten samples beyond
    it (None when there are too few), and the sample count."""
    out = {"n": len(values), "p50": percentile(values, 50), "tail": None}
    for p in (99.9, 99.0, 90.0):
        if len(values) * (1 - p / 100.0) >= 10:
            out["tail"] = {"p": p, "value": percentile(values, p)}
            break
    return out


def tree_peak_rss_mb() -> float:
    """Sum of peak resident sets (VmHWM) of this process and all its
    descendants (the JVM and its Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    seen, todo, kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# --------------------------------------------------------------------------
# environment: everything stays inside the checkout
# --------------------------------------------------------------------------

def prepare_env(work: str, traced: bool) -> dict:
    import tempfile
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_PROFILE", None)
    if traced:
        from tracing import event_log_submit_args
        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_submit_args(
            os.path.join(work, "eventlog"))
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    tempfile.tempdir = tmp
    return {"cpus": cpus}


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it ran in, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# one benchmark run
# --------------------------------------------------------------------------

def regime_record(wl, inp, crawls) -> dict:
    """Which side of each size-selected path the measured rounds took: the
    measured size against the CrawlConfig threshold."""
    cfg = wl.cfg
    rounds = [r for c in crawls for r in c.rounds]
    batches = [r.fetched for r in rounds] or [0]
    fetch_sides = sorted({"small" if b <= cfg.fetch_broadcast_threshold
                          else "big" for b in batches})
    out = {
        "fetch": {"threshold": cfg.fetch_broadcast_threshold,
                  "max_batch": max(batches), "min_batch": min(batches),
                  "sides": fetch_sides},
        "extract": {"sides": sorted(
            {"pandas_udf" if s == "small" else f"{cfg.extract_impl}_scan"
             for s in fetch_sides})},
    }
    if cfg.max_pages_to_crawl > 0:
        left = [max(cfg.max_pages_to_crawl - r.crawled_before
                    - r.pending_before, 0) for r in rounds] or [0]
        out["p4_budget"] = {
            "threshold": cfg.budget_topk_threshold,
            "max_remaining_budget": max(left),
            "sides": ["takeordered" if max(left) <= cfg.budget_topk_threshold
                      else "cumsum"]}
    else:
        out["p4_budget"] = {"sides": ["off (max_pages_to_crawl=0)"]}
    if cfg.is_respect_robots_dot_text_enabled:
        n = int(inp.tables["robots"]["robots_txt"].notna().sum())
        side = ("broadcast" if n <= cfg.robots_broadcast_threshold
                else "shuffle")
        out["robots"] = {"threshold": cfg.robots_broadcast_threshold,
                         "rows": n, "sides": [side]}
    else:
        out["robots"] = {"sides": ["off (robots disabled)"]}
    if "big" in fetch_sides:
        meta = inp.tables["corpus_meta"]
        n_aug = int((meta["content_type"].str.contains("charset", case=False)
                     | meta["x_robots"].notna()).sum())
        side = ("broadcast" if n_aug <= cfg.meta_broadcast_threshold
                else "bloom_shuffle")
        out["header_meta"] = {"threshold": cfg.meta_broadcast_threshold,
                              "rows_at_most": n_aug, "sides": [side]}
    out["bloom_sidecar"] = {"sides": ["off (bloom_prefilter disabled)"]}
    return out


def heavy_rounds(rounds) -> list:
    """Rounds fetching at least HEAVY_SHARE of the run's largest round."""
    top = max(r.fetched for r in rounds)
    return [r for r in rounds if r.fetched >= HEAVY_SHARE * top]


def e2e_metrics(crawls, rounds, setup_s, seed_s, rss_mb
                ) -> tuple[dict, dict]:
    crawl_s = [c.crawl_s for c in crawls]
    urls_per_s = [c.urls / c.crawl_s for c in crawls]
    peak = [(r.fetched + r.links) / r.wall_s for r in heavy_rounds(rounds)]
    walls = [r.wall_s for r in rounds]
    metrics = {
        "crawl_s": statistics.median(crawl_s),
        "crawl_urls_per_s": statistics.median(urls_per_s),
        "peak_round_urls_per_s": statistics.median(peak),
        "round_s_p50": percentile(walls, 50),
        "round_s_p90": percentile(walls, 90),
        "setup_s": setup_s,
        "seed_s": statistics.median(seed_s),
        "peak_rss_mb": rss_mb,
    }
    detail = {
        "crawl_s": summary(crawl_s), "crawl_urls_per_s": summary(urls_per_s),
        "peak_round_urls_per_s": summary(peak), "round_s": summary(walls),
        "seed_s": summary(seed_s),
    }
    return metrics, detail


def layer_metrics(tracer, stages_by_round, crawls, rounds, cpus,
                  oracle_s) -> dict:
    counts = [tracer.rounds[(ci, r.round)]
              for ci, c in enumerate(crawls) for r in c.rounds]
    n = len(rounds)

    def per_round(values):
        return sum(values) / n

    urls = [r.fetched + r.links for r in rounds]
    if len(set(urls)) > 1:
        slope, fixed_s = statistics.linear_regression(
            urls, [r.wall_s for r in rounds])
    else:
        # one round size (mega_round): no intercept can be fitted, so the
        # whole round counts as per-url cost
        slope = statistics.fmean(r.wall_s for r in rounds) / urls[0]
        fixed_s = 0.0
    links = sum(r.links for r in rounds) or 1
    first = crawls[0].rounds
    wall_total = sum(r.wall_s for r in rounds)
    stages = [s for rs in stages_by_round for s in rs]
    task_s = sum(s.task_s for s in stages)
    crawl_s = statistics.median(c.crawl_s for c in crawls)
    return {
        "crawler.spark_jobs_per_round": per_round(c.jobs for c in counts),
        "crawler.spark_stages_per_round": per_round(c.stages for c in counts),
        "crawler.spark_tasks_per_round": per_round(c.tasks for c in counts),
        "crawler.tasks_failed": sum(c.tasks_failed for c in counts),
        "crawler.fixed_s": fixed_s,
        "crawler.us_per_url": slope * 1e6,
        "crawler.dedup_ratio": sum(r.deduped for r in rounds) / links,
        "crawler.admit_ratio": sum(r.admitted for r in rounds) / links,
        "crawler.backlog_max": max(max(r.pending_before, r.pending_after)
                                   for r in rounds),
        "crawler.rounds": len(first),
        "crawler.robots_denied": sum(r.robots_denied for r in first),
        "crawler.budget_denied": sum(r.budget_denied for r in first),
        "crawler.depth_pruned": sum(r.depth_pruned for r in first),
        "statestore.write_table_s":
            tracer.span_seconds("statestore.write_table")[0] / n,
        "statestore.write_table_calls":
            tracer.span_seconds("statestore.write_table")[1] / n,
        "statestore.write_pandas_s":
            tracer.span_seconds("statestore.write_pandas")[0] / n,
        "statestore.commit_s":
            tracer.span_seconds("statestore.commit_round")[0] / n,
        "statestore.bytes_per_round": per_round(c.bytes for c in counts),
        "statestore.files_per_round": per_round(c.files for c in counts),
        "statestore.resume_s": statistics.median(c.resume_s for c in crawls),
        "spark.task_s": task_s / n,
        "spark.core_busy_share": task_s / (wall_total * cpus),
        "spark.shuffle_read_bytes": sum(s.shuffle_read for s in stages) / n,
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in stages) / n,
        "spark.spill_bytes": sum(s.spill for s in stages) / n,
        "spark.input_bytes": sum(s.input for s in stages) / n,
        "spark.gc_s": sum(s.gc_s for s in stages) / n,
        "simulator.crawl_s": oracle_s,
        "simulator.engine_speedup": oracle_s / crawl_s,
        "trace.crawl_s": crawl_s,
    }


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import abot_dotnet_core_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = prepare_env(work, traced)
    try:
        return _run(args, work, traced, env["cpus"], pyspark.__version__)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, traced, cpus, spark_version) -> int:
    import dataclasses

    import pyarrow

    import workloads as W
    from abot_dotnet_core_spark.session import get_spark

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = W.WORKLOADS[args.workload]
    spec = dataclasses.replace(wl.mini if args.mini else wl.spec,
                               seed=args.seed)
    mini = dataclasses.replace(wl.mini, seed=args.seed)

    # ---- inputs (not timed as set-up) ------------------------------------
    t0 = time.perf_counter()
    inp = W.make_inputs(wl, spec, os.path.join(work, "inputs"),
                        with_simulator=wl.check == "order" or traced)
    mini_inp = W.make_inputs(wl, mini, os.path.join(work, "mini"),
                             with_simulator=False)
    gen_s = time.perf_counter() - t0

    # ---- set-up: session, warm-up crawl, engine construction -----------
    # One cold sample from process start (interpreter, imports, JVM launch)
    # to an engine ready on the measured corpus, input generation excluded.
    # The warm-up seeds a small corpus and runs one round on the same code
    # path, which takes the cold JIT out of the measured crawls.
    spark = get_spark(f"perfbench-{wl.name}", cpus=cpus)
    W.crawl(spark, wl, wl.mini_cfg, mini_inp, os.path.join(work, "warm"),
            max_rounds=1)
    W.open_engine(spark, wl.cfg, inp, os.path.join(work, "ready"))
    setup_s = time.perf_counter() - T_START - gen_s

    # ---- measured crawls -------------------------------------------------
    # A fixed number of whole crawls per run, from --seconds and the
    # workload's nominal crawl time, so every run does the same work.
    tracer = None
    if traced:
        from tracing import Tracer
        tracer = Tracer(spark)
        tracer.install()
    crawls, engines, errors, seed_s = [], [], [], []
    n_crawls = max(1, int(args.seconds // wl.crawl_s))
    try:
        for i in range(n_crawls):
            if tracer:
                tracer.crawl_id = i
            try:
                rec, eng = W.crawl(spark, wl, wl.cfg, inp,
                                   os.path.join(work, f"store-{i}"),
                                   hooks=tracer)
            except Exception:
                errors.append(traceback.format_exc(limit=5))
                break
            crawls.append(rec)
            engines.append(eng)
            seed_s.append(rec.seed_s)
        while crawls and len(seed_s) < SEED_SAMPLES:
            seed_s.append(W.seed_sample(
                spark, wl, inp, os.path.join(work, f"seed-{len(seed_s)}")))
    finally:
        if tracer:
            tracer.uninstall()
    rss_mb = tree_peak_rss_mb()
    t_checks = time.perf_counter()

    # ---- output checks ---------------------------------------------------
    for rec, eng in zip(crawls, engines):
        try:
            rec.check_error = W.check(spark, wl, eng, inp)
        except Exception:
            rec.check_error = traceback.format_exc(limit=5)
    rounds = [r for c in crawls for r in c.rounds]
    attempted = len(rounds) + len(crawls) + len(errors)
    failed = len(errors) + sum(1 for c in crawls if c.check_error)
    detail = {
        "provenance": {
            "workload": wl.name, "seed": args.seed, "traced": traced,
            "mini": args.mini, "nproc": cpus, "spark": spark_version,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "corpus_spec": dataclasses.asdict(spec),
            "config": wl.cfg.to_dict(),
        },
        "input_generation_s": gen_s,
        "checks_s": time.perf_counter() - t_checks,
        "setup_s": setup_s,
        "seed_samples_s": seed_s,
        "crawls": [{"seed_s": c.seed_s, "crawl_s": c.crawl_s,
                    "resume_s": c.resume_s, "urls": c.urls,
                    "rounds": [[r.fetched, r.links, r.wall_s]
                               for r in c.rounds],
                    "check_error": c.check_error} for c in crawls],
        "errors": errors,
        "regimes": regime_record(wl, inp, crawls),
    }

    metrics = {}
    if crawls and rounds:
        if traced:
            from replay import replay
            from tracing import attribute_stages, read_event_log
            stop_spark(spark)
            spark = None
            stages = read_event_log(os.path.join(work, "eventlog"))
            by_round = attribute_stages(stages, [(r.start, r.end)
                                                 for r in rounds])
            metrics = layer_metrics(tracer, by_round, crawls, rounds, cpus,
                                    inp.oracle_s)
            replayed, replay_error = replay(wl.cfg, inp.tables)
            metrics.update(replayed)
            attempted += 1
            if replay_error:
                failed += 1
                errors.append(replay_error)
        else:
            metrics, detail["summaries"] = e2e_metrics(
                crawls, rounds, setup_s, seed_s, rss_mb)
    if spark is not None:
        stop_spark(spark)

    e2e_units, layer_units = declared_units()
    units = layer_units if traced else e2e_units
    missing = sorted(set(units) - set(metrics))
    if missing and not errors:
        errors.append(f"metrics not produced: {missing}")
        failed += 1
    correct = failed == 0 and not missing
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units if k in metrics}}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.selftest:
        import selftest
        return selftest.main(ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())

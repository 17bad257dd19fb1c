"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run generates its fixture from
``--seed``, sets up, warms up, then repeats whole timed passes until
``--seconds`` have passed (at least one), checks the outputs, and prints a
report line and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
taken from spans, the streaming listener and Spark's event log.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if CHECKOUT not in sys.path:
    sys.path.insert(0, CHECKOUT)

from perfbench import stats  # noqa: E402
from perfbench.env import OUT_DIR, RunRoot, environment, open_session, spark_cpus  # noqa: E402
from perfbench.procfs import JvmProbe  # noqa: E402
from perfbench.tracing import CommitLog, Spans, read_event_log  # noqa: E402

#: end-to-end metrics and their units (README: what each means per workload)
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "bulk_s": "s",
    "op_p50_s": "s",
    "cpu_s_per_pass": "s",
}


def _layer_units() -> dict[str, str]:
    from perfbench import cdc_ingest, llm_corpus
    from perfbench.querymix import QUERY_LAYERS

    units = {
        "session.get_spark_s": "s",
        "scripts.gen_testdata_s": "s",
        "sources.cdc.wire_log_s": "s",
        "sources.cdc.parse_events_per_s": "1/s",
        "operators.upsert.apply_cdc_s": "s",
        "spark.shuffle_bytes_per_pass": "bytes",
        "spark.executor_run_s_per_pass": "s",
        "plans.persisted_rdds_after_pass": "count",
        "plans.storage_mem_mb_after_pass": "MB",
        "trace.pass_s": "s",
        "trace.event_log_parse_s": "s",
        "streaming.pipeline.add_batch_ms_p50": "ms",
        "streaming.pipeline.trigger_overhead_ms_p50": "ms",
        "streaming.pipeline.jobs_per_commit": "count",
        "streaming.pipeline.stages_per_commit": "count",
        "streaming.pipeline.buckets_touched_per_commit": "count",
        "streaming.pipeline.files_written_per_commit": "count",
        "streaming.pipeline.bytes_written_per_event": "bytes",
        "streaming.pipeline.read_silver_s": "s",
        "streaming.commit.manifest_bytes": "bytes",
        "operators._pipe.python_s": "s",
        "operators._pipe.arrow_bytes_sent": "bytes",
        "operators._pipe.arrow_bytes_returned": "bytes",
    }
    for q in cdc_ingest.QUERIES + llm_corpus.QUERIES:
        for k, u in QUERY_LAYERS.items():
            units[f"q.{q}.{k}"] = u
    return units


def _workloads() -> dict:
    from perfbench.cdc_ingest import CdcIngest
    from perfbench.llm_corpus import LlmCorpus

    return {w.name: w for w in (CdcIngest, LlmCorpus)}


def _engine_missing() -> str | None:
    """Why the program under test cannot be imported, or None."""
    try:
        import __spark_entry__  # noqa: F401
        import check_correctness  # noqa: F401
        import postgres_debezium_clickhouse_spark  # noqa: F401
    except ImportError as e:
        return f"cannot import the engine: {e}"
    if not os.path.isfile(os.path.join(CHECKOUT, "scripts", "gen_testdata.py")):
        return "scripts/gen_testdata.py is missing"
    return None


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(workload, args, cpus: int, load) -> tuple[dict, dict]:
    """Run one workload; returns (result, report)."""
    from perfbench.workload import Ctx, cache_state, make_fixture

    spans = Spans()
    report: dict = {"workload": workload.name, "seconds": args.seconds, "trace": args.trace}
    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    with RunRoot(CHECKOUT, cpus) as root:
        spark = None
        ctx = None
        try:
            with spans.span("workload", None, workload=workload.name, seed=args.seed) as top:
                with spans.span("setup", top["id"]) as su:
                    with spans.span("session.get_spark", su["id"]) as gs:
                        spark = open_session(root, bool(args.trace))
                    ctx = Ctx(spark, root, args.seed, bool(args.trace), spans,
                              JvmProbe(), CommitLog(spark))
                    make_fixture(ctx, su)
                    workload.setup(ctx, su)
                report["environment"] = environment(spark, args.seed, cpus, load)
                with spans.span("warm", top["id"]) as w:
                    workload.warm(ctx, w)
                passes = []
                t0 = time.monotonic()
                while not passes or time.monotonic() - t0 < args.seconds:
                    cpu0 = ctx.probe.cpu_s()
                    with spans.span("pass", top["id"], index=len(passes)) as p:
                        res = workload.one_pass(ctx, len(passes), p)
                    cpu1 = ctx.probe.cpu_s()
                    cpu = cpu1 - cpu0 if cpu0 is not None and cpu1 is not None else None
                    passes.append((Spans.duration(p), res, cpu))
                with spans.span("verify", top["id"]) as v:
                    workload.verify(ctx, v)
                peak = ctx.probe.peak_rss_mb()
                probes = {**cache_state(ctx), **workload.probe(ctx, top)} if args.trace else {}
        except Exception:
            traceback.print_exc()
            if ctx is not None and not ctx.problems:
                ctx.fail("run aborted")
            passes = []
        finally:
            if spark is not None:
                _stop(spark)
        if ctx is None:
            return result, report
        result.update(attempted=max(ctx.attempted, 1), failed=ctx.failed,
                      correct=ctx.failed == 0 and bool(passes))
        report["problems"] = ctx.problems
        if not passes:
            return result, report

        walls = [w for w, _, _ in passes]
        ops = [o for _, r, _ in passes for o in r.ops_s]
        cpus_s = [c for _, _, c in passes if c is not None and c > 0]
        end = {
            "setup_s": Spans.duration(su),
            "pass_s": statistics.median(walls),
            "bulk_s": statistics.median([r.bulk_s for _, r, _ in passes]),
            "op_p50_s": statistics.median(ops),
        }
        try:
            tail, pct, n = stats.tail(ops)
            report["op_tail"] = {"value_s": tail, "percentile": round(pct, 1), "samples": n}
        except ValueError as e:
            report["op_tail"] = {"absent": str(e)}
        if cpus_s:
            end["cpu_s_per_pass"] = statistics.median(cpus_s)
        if peak is not None:
            report["peak_rss_mb"] = peak
        if not cpus_s or peak is None:
            report["probe_absent"] = ctx.probe.reason or "no CPU reading"
        report.update(passes=len(passes), ops=len(ops),
                      failed_ops_frac=result["failed"] / result["attempted"],
                      end_to_end=end, workload_detail=workload.report())

        if not args.trace:
            result["metrics"] = {k: _metric(v, END_TO_END[k]) for k, v in end.items()}
            return result, report

        t = time.monotonic()
        log = read_event_log(root.sub("eventlog"))
        parse_s = time.monotonic() - t
        detail = {
            "session.get_spark_s": Spans.duration(gs),
            "scripts.gen_testdata_s": _first(spans, "scripts.gen_testdata"),
            "sources.cdc.wire_log_s": _first(spans, "sources.cdc.wire_log"),
            "trace.pass_s": statistics.median(walls),
            "trace.event_log_parse_s": parse_s,
            **probes,
            **workload.layers(ctx, log),
        }
        report["layers"] = detail
        spans.write(os.path.join(CHECKOUT, OUT_DIR,
                                 f"{workload.name}-seed{args.seed}-spans.json"))
        units = _layer_units()
        result["metrics"] = {k: _metric(detail.get(k, 0), u) for k, u in units.items()}
    return result, report


def _stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it exits."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # e.g. a signal broke the gateway connection mid-call
        traceback.print_exc()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _first(spans: Spans, name: str) -> float:
    """Duration of the first span called ``name``; 0 if the workload
    never made that call."""
    return next((Spans.duration(r) for r in spans.records if r["name"] == name), 0.0)


def main(argv: list[str] | None = None) -> int:
    names = sorted(_workloads())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind normally, so the JVM is stopped and the run root deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = _engine_missing()
    if missing:
        print(f"perfbench: {missing}", file=sys.stderr)
        return 2
    try:
        cpus = spark_cpus()
    except ValueError as e:
        print(f"perfbench: refusing to run: {e}", file=sys.stderr)
        return 2
    load = os.getloadavg()
    result, report = measure(_workloads()[args.workload](), args, cpus, load)
    print("perfbench report: " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

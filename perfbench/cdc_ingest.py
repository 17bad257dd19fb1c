"""``cdc_ingest``: the seeded orders change log replayed into the silver store.

A pass replays the whole log into a fresh store through
``streaming.pipeline.silver_upsert_stream``, then reads it:

* A, snapshot: the ``op='r'`` events as one backlog file, replayed in one
  trigger into the empty store.
* B, change trickle: the update and delete events (duplicate deliveries
  included), sorted by ``ts_ms`` and split into small files, one file per
  trigger with ``availableNow``.
* C, reads: ``read_silver`` current-state count, one key lookup, one
  ``as_of_version`` count in mid-history, then the registered CDC and
  analytics queries of :data:`QUERIES`.

At this scale both A and B are bound by the fixed cost of a commit, not by
per-row work (README, "Regime"); per-row work is watched by the parse and
batch-merge layer probes.  Operations are the phase-B commits, timed by the
listener's ``triggerExecution``; the bulk step is phase A.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics

from .querymix import QueryMix
from .tracing import EventLog, Spans
from .workload import Ctx, PassResult, Workload

KEYS = ["o_orderkey"]
CHANGE_FILES = 4
#: the analyst's side: registered queries over the CDC log and the fixture
QUERIES = (
    "cdc_current_state",
    "products_usable_vw",
    "cdc_json_extract_path",
    "star_join_revenue",
    "order_totals",
    "pricing_summary",
    "latest_order_per_customer",
    "events_sessionization",
)
#: a phase that has not finished by then is a failed operation
PHASE_TIMEOUT_S = 150


def flat_orders(records):
    """Parse wire records into the flat orders change rows the silver sink
    merges (the same projection ``bench.py`` streams)."""
    from pyspark.sql import functions as F

    from postgres_debezium_clickhouse_spark.schemas import ORDERS_ENVELOPE
    from postgres_debezium_clickhouse_spark.sources.cdc import parse_envelope

    p = F.col("j.payload")
    return parse_envelope(records, ORDERS_ENVELOPE).select(
        F.coalesce(p.after["o_orderkey"], p.before["o_orderkey"]).alias("o_orderkey"),
        p.after["o_orderstatus"].alias("o_orderstatus"),
        p.after["o_totalprice"].cast("double").alias("o_totalprice"),
        p.op.alias("op"),
        p.source["ts_ms"].alias("ts_ms"),
        F.col("offset"),
    )


def _place(stage_dir: str, dest: str) -> list[str]:
    """Move Spark's part files to ``dest`` as ``000.json``, ``001.json``…
    with increasing mtimes: the file source takes the oldest file first, so
    triggers replay the files in name order."""
    os.makedirs(dest)
    out = []
    for i, f in enumerate(sorted(glob.glob(os.path.join(stage_dir, "part-*.json")))):
        d = os.path.join(dest, f"{i:03d}.json")
        shutil.move(f, d)
        os.utime(d, (1_000_000_000 + i, 1_000_000_000 + i))
        out.append(d)
    shutil.rmtree(stage_dir)
    return out


def _lines(paths: list[str]) -> int:
    n = 0
    for p in paths:
        with open(p, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


def _digest(df) -> tuple[int, int]:
    """(row count, order-insensitive digest): the sum of each row's
    ``xxhash64`` over its columns in name order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).collect()[0]
    return int(row["n"]), int(row["d"] or 0)


class CdcIngest(Workload):
    name = "cdc_ingest"

    def setup(self, ctx: Ctx, parent: dict) -> None:
        from pyspark.sql import functions as F

        from postgres_debezium_clickhouse_spark.schemas import ORDERS_ENVELOPE
        from postgres_debezium_clickhouse_spark.sources.cdc import (
            orders_cdc_events,
            parse_envelope,
        )

        with ctx.spans.span("sources.cdc.wire_log", parent["id"]):
            self.n_events = orders_cdc_events(ctx.spark, ctx.fixture).count()
        with ctx.spans.span("split_change_log", parent["id"]):
            records = orders_cdc_events(ctx.spark, ctx.fixture)
            self.schema = records.schema
            tagged = parse_envelope(records, ORDERS_ENVELOPE).select(
                *records.columns,
                F.col("j.payload.op").alias("_op"),
                F.col("j.payload.source.ts_ms").alias("_ts"),
            )
            snap = tagged.filter(F.col("_op") == "r").drop("_op", "_ts")
            snap.repartition(1).write.json(ctx.root.sub("stage_a"))
            (tagged.filter(F.col("_op") != "r")
             .repartitionByRange(CHANGE_FILES, "_ts", "offset")
             .sortWithinPartitions("_ts", "offset").drop("_op", "_ts")
             .write.json(ctx.root.sub("stage_b")))
            self.snapshot = _place(ctx.root.sub("stage_a"), ctx.root.sub("src", "snapshot"))
            self.changes = _place(ctx.root.sub("stage_b"), ctx.root.sub("src", "changes"))
            self.n_snapshot = _lines(self.snapshot)
            self.n_change = _lines(self.changes)
        self.key = self._probe_key(ctx)
        self.mix = QueryMix(QUERIES)
        self.passes: list[dict] = []

    def _replay(self, ctx: Ctx, src: str, store: str, ckpt: str) -> str:
        from postgres_debezium_clickhouse_spark.streaming.pipeline import silver_upsert_stream

        stream = (ctx.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", "1").json(src))
        q = silver_upsert_stream(flat_orders(stream), store, ckpt, keys=KEYS,
                                 available_now=True)
        if not q.awaitTermination(PHASE_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"replay of {src} did not finish in {PHASE_TIMEOUT_S}s")
        return str(q.id)

    def warm(self, ctx: Ctx, parent: dict) -> None:
        """Check the queries against their oracles (their warm-up too),
        then replay the snapshot into a throwaway store, so the timed
        commits do not pay for a cold stream and JIT."""
        self.mix.check(ctx, parent)
        with ctx.spans.span("warm.replay", parent["id"]):
            self._replay(ctx, os.path.dirname(self.snapshot[0]), ctx.root.sub("warm", "silver"),
                         ctx.root.sub("warm", "ckpt"))

    def one_pass(self, ctx: Ctx, index: int, parent: dict) -> PassResult:
        from pyspark.sql import functions as F

        from postgres_debezium_clickhouse_spark.streaming.pipeline import read_silver

        store = ctx.root.sub(f"silver_{index}")
        ckpt = ctx.root.sub(f"ckpt_{index}")
        rec = {"store": store}
        n_commits = len(self.snapshot) + len(self.changes)
        ctx.attempted += n_commits + 3
        try:
            with ctx.spans.span("phase_a", parent["id"]) as a:
                rec["qa"] = self._replay(ctx, os.path.dirname(self.snapshot[0]), store,
                                         ckpt + "_a")
            with ctx.spans.span("phase_b", parent["id"]) as b:
                rec["qb"] = self._replay(ctx, os.path.dirname(self.changes[0]), store,
                                         ckpt + "_b")
            with ctx.spans.span("phase_c", parent["id"]) as c:
                ctx.group(f"read_silver#{index}")
                with ctx.spans.span("reads", c["id"]) as r:
                    with ctx.spans.span("streaming.pipeline.read_silver", r["id"], read="count"):
                        rec["count"] = read_silver(ctx.spark, store).count()
                    with ctx.spans.span("streaming.pipeline.read_silver", r["id"], read="key"):
                        rec["key_rows"] = read_silver(ctx.spark, store).filter(
                            F.col("o_orderkey") == self.key).collect()
                    with ctx.spans.span("streaming.pipeline.read_silver", r["id"],
                                        read="as_of"):
                        rec["as_of_count"] = read_silver(
                            ctx.spark, store, as_of_version=self.mid_version()).count()
                ctx.group("")
                self.mix.run(ctx, index, c)
        except Exception as e:  # counted as failed operations, then ends the run
            ctx.fail(f"pass {index}: {type(e).__name__}: {e}", n_commits + 3)
            raise
        commits = {}
        for phase, q, n in (("a", rec["qa"], len(self.snapshot)),
                            ("b", rec["qb"], len(self.changes))):
            commits[phase] = ctx.commits.wait_for(q, n)
            if len(commits[phase]) != n:
                ctx.fail(f"pass {index}: phase {phase} reported "
                         f"{len(commits[phase])} of {n} commits")
            for cm in commits[phase]:
                ctx.spans.add("commit", a if phase == "a" else b,
                              cm["trigger_ms"] / 1000.0, **cm)
        rec.update(commits=commits, phase_a_s=Spans.duration(a),
                   phase_b_s=Spans.duration(b), phase_c_s=Spans.duration(c),
                   reads_s=Spans.duration(r))
        self.passes.append(rec)
        return PassResult([cm["trigger_ms"] / 1000.0 for cm in commits["b"]],
                          Spans.duration(a))

    def _probe_key(self, ctx: Ctx) -> int:
        """A seeded order key that the log never deletes."""
        import pyarrow.parquet as pq

        rng = random.Random(ctx.seed)
        n_orders = pq.ParquetFile(os.path.join(ctx.fixture, "orders.parquet")).metadata.num_rows
        while True:
            k = rng.randrange(n_orders)
            if k % 7:
                return k

    def mid_version(self) -> int:
        """Store version after the snapshot and half of the change files."""
        return len(self.snapshot) + len(self.changes) // 2

    def _expected(self, ctx: Ctx, files: list[str]):
        from postgres_debezium_clickhouse_spark.operators.upsert import apply_cdc

        events = flat_orders(ctx.spark.read.schema(self.schema).json(files))
        return apply_cdc(events, keys=KEYS, delete_mode="drop")

    def verify(self, ctx: Ctx, parent: dict) -> None:
        """The last pass's store equals batch ``apply_cdc`` over the same
        log (row count and order-insensitive digest), its mid-history
        version equals ``apply_cdc`` over the files replayed by then, and
        the key lookup finds exactly one row."""
        from postgres_debezium_clickhouse_spark.streaming.pipeline import read_silver

        rec = self.passes[-1]
        ctx.attempted += 3
        with ctx.spans.span("check.final_state", parent["id"]):
            got = _digest(read_silver(ctx.spark, rec["store"]))
            want = _digest(self._expected(ctx, self.snapshot + self.changes))
        if got != want or rec["count"] != want[0]:
            ctx.fail(f"final state {got} (count read {rec['count']}) != apply_cdc {want}")
        with ctx.spans.span("check.as_of_version", parent["id"]):
            half = self.changes[: len(self.changes) // 2]
            want_mid = self._expected(ctx, self.snapshot + half).count()
        if rec["as_of_count"] != want_mid:
            ctx.fail(f"as_of_version count {rec['as_of_count']} != {want_mid}")
        if len(rec["key_rows"]) != 1:
            ctx.fail(f"key lookup returned {len(rec['key_rows'])} rows")

    # ------------------------------------------------------------ layers

    def _manifest_diff(self, store: str) -> list[dict]:
        """Per committed version: buckets touched, files and bytes written,
        from the difference between consecutive manifests."""
        from postgres_debezium_clickhouse_spark.streaming.pipeline import silver_versions

        def files(v: int) -> set[str]:
            with open(os.path.join(store, "_history", f"_manifest.v{v}.json")) as fh:
                return set(json.load(fh)["files"])

        out, prev = [], set()
        for v in silver_versions(store):
            cur = files(v)
            new = cur - prev
            out.append({
                "version": v,
                "buckets": len({f.split("__bucket=")[1].split("/")[0] for f in new}),
                "files": len(new),
                "bytes": sum(os.path.getsize(os.path.join(store, f)) for f in new),
            })
            prev = cur
        return out

    def probe(self, ctx: Ctx, parent: dict) -> dict:
        """Untimed probes of the CDC parse and the batch merge over the
        whole wire log."""
        from pyspark.sql import functions as F

        from postgres_debezium_clickhouse_spark.operators.upsert import apply_cdc
        from postgres_debezium_clickhouse_spark.schemas import ORDERS_ENVELOPE
        from postgres_debezium_clickhouse_spark.sources.cdc import (
            orders_cdc_events,
            parse_envelope,
        )

        records = orders_cdc_events(ctx.spark, ctx.fixture)
        ctx.group("probe.parse")
        with ctx.spans.span("sources.cdc.parse_envelope", parent["id"]) as s:
            parse_envelope(records, ORDERS_ENVELOPE).select(
                F.col("j.payload.op")).write.format("noop").mode("overwrite").save()
        parse_s = Spans.duration(s)
        ctx.group("probe.apply_cdc")
        with ctx.spans.span("operators.upsert.apply_cdc", parent["id"]) as s:
            apply_cdc(flat_orders(records), keys=KEYS).write.format(
                "noop").mode("overwrite").save()
        ctx.group("")
        return {"sources.cdc.parse_events_per_s": self.n_events / parse_s,
                "operators.upsert.apply_cdc_s": Spans.duration(s)}

    def layers(self, ctx: Ctx, log: EventLog) -> dict:
        med = statistics.median
        b_commits = [(p["qb"], cm) for p in self.passes for cm in p["commits"]["b"]]
        per_commit = [log.select(query_id=q, batch_id=cm["batch_id"]) for q, cm in b_commits]
        per_pass = []
        for i, p in enumerate(self.passes):
            parts = [log.select(query_id=p["qa"]), log.select(query_id=p["qb"]),
                     log.select(group=f"read_silver#{i}"), *self.mix.summaries(log, i)]
            per_pass.append((sum(s.shuffle_bytes for s in parts),
                             sum(s.executor_run_s for s in parts)))
        last = self.passes[-1]
        diff = self._manifest_diff(last["store"])[len(self.snapshot):]
        return {
            **self.mix.layers(log),
            "streaming.pipeline.add_batch_ms_p50": med(cm["add_batch_ms"] for _, cm in b_commits),
            "streaming.pipeline.trigger_overhead_ms_p50": med(
                cm["trigger_ms"] - cm["add_batch_ms"] for _, cm in b_commits),
            "streaming.pipeline.jobs_per_commit": med(s.jobs for s in per_commit),
            "streaming.pipeline.stages_per_commit": med(len(s.stages) for s in per_commit),
            "streaming.pipeline.task_skew_p50": med(s.task_skew for s in per_commit),
            "streaming.pipeline.buckets_touched_per_commit": med(d["buckets"] for d in diff),
            "streaming.pipeline.files_written_per_commit": med(d["files"] for d in diff),
            "streaming.pipeline.bytes_written_per_event":
                sum(d["bytes"] for d in diff) / self.n_change,
            "streaming.pipeline.read_silver_s": med(p["reads_s"] for p in self.passes),
            "streaming.commit.manifest_bytes":
                os.path.getsize(os.path.join(last["store"], "_manifest.json")),
            "spark.shuffle_bytes_per_pass": med(x[0] for x in per_pass),
            "spark.executor_run_s_per_pass": med(x[1] for x in per_pass),
        }

    def report(self) -> dict:
        """Phase A and phase B reported apart, with
        the per-commit figures that show which regime each phase is in."""
        med = statistics.median
        a_ms = [cm["trigger_ms"] for p in self.passes for cm in p["commits"]["a"]]
        b_ms = [cm["trigger_ms"] for p in self.passes for cm in p["commits"]["b"]]
        return {
            "snapshot_events": self.n_snapshot,
            "change_events": self.n_change,
            "change_files": len(self.changes),
            "snapshot_events_per_s": self.n_snapshot / med(p["phase_a_s"] for p in self.passes),
            "change_events_per_s": self.n_change / med(p["phase_b_s"] for p in self.passes),
            "snapshot_commit_s": med(a_ms) / 1000.0,
            "change_commit_p50_s": med(b_ms) / 1000.0,
            "queries_s": med(p["phase_c_s"] - p["reads_s"] for p in self.passes),
        }

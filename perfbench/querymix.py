"""A fixed list of registered queries, checked once and then timed.

Each query is built (``queries()[name](spark, fixture)``) and executed into
the ``noop`` sink; build and execute are timed apart, because construction
alone can run Spark jobs.  Each run sets the Spark job group to
``<query>#<pass>``, so the event log attributes jobs and stages to it.
"""

from __future__ import annotations

import statistics
from concurrent.futures import ThreadPoolExecutor

from .tracing import EventLog, Spans
from .workload import Ctx

#: per-query layer metrics, ``q.<query>.<name>``, and their units
QUERY_LAYERS = {"build_s": "s", "exec_s": "s", "jobs": "count", "stages": "count"}
#: queries checked at once: the untimed check is mostly single-threaded
#: planning and code generation, which overlap across cores
CHECK_THREADS = 3


class QueryMix:
    def __init__(self, names: tuple[str, ...]) -> None:
        import __spark_entry__

        self.names = names
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.runs: list[dict] = []  # one per (pass, query)

    def check(self, ctx: Ctx, parent: dict) -> None:
        """Run each query once; its digest must equal its DuckDB oracle's.
        Outside the timed region, so the queries run :data:`CHECK_THREADS`
        at a time and the oracles in one more thread; the check is also
        the queries' warm-up."""
        import check_correctness
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 1")
        for t in check_correctness.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{ctx.fixture}/{t}.parquet')")

        def one(name: str, oracles: ThreadPoolExecutor):
            with ctx.spans.span("check", parent["id"], query=name):
                df = self.queries[name](ctx.spark, ctx.fixture)
                want = oracles.submit(check_correctness.duck_digest, con,
                                      self.oracles[name], df.schema)
                return check_correctness.spark_digest(df), want

        with ThreadPoolExecutor(max_workers=1) as oracles, \
                ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
            runs = {name: pool.submit(one, name, oracles) for name in self.names}
            for name, fut in runs.items():
                ctx.attempted += 1
                try:
                    got, want = fut.result()
                    oracle = want.result()
                except Exception as e:  # one failing query must not hide the rest
                    ctx.fail(f"{name}: {type(e).__name__}: {e}")
                    continue
                if got != oracle:
                    ctx.fail(f"{name}: digest {got} != oracle {oracle}")
        con.close()

    def run(self, ctx: Ctx, index: int, parent: dict) -> tuple[list[float], float]:
        """One timed run of every query: (per-query seconds, summed
        execution seconds)."""
        ops, executed = [], 0.0
        for name in self.names:
            ctx.attempted += 1
            ctx.group(f"{name}#{index}")
            with ctx.spans.span("query", parent["id"], query=name) as q:
                try:
                    with ctx.spans.span("build", q["id"]) as b:
                        df = self.queries[name](ctx.spark, ctx.fixture)
                    with ctx.spans.span("execute", q["id"]) as e:
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    ctx.fail(f"pass {index} {name}: {type(exc).__name__}: {exc}")
                    continue
            ops.append(Spans.duration(q))
            executed += Spans.duration(e)
            self.runs.append({"pass": index, "query": name,
                              "build_s": Spans.duration(b), "exec_s": Spans.duration(e)})
        ctx.group("")
        return ops, executed

    def summaries(self, log: EventLog, index: int) -> list:
        """Event-log summaries of every query run of pass ``index``."""
        return [log.select(group=f"{r['query']}#{index}")
                for r in self.runs if r["pass"] == index]

    def layers(self, log: EventLog) -> dict:
        """``q.<query>.*``: medians over the run's passes."""
        med = statistics.median
        out: dict = {}
        for name in self.names:
            mine = [(r, log.select(group=f"{name}#{r['pass']}"))
                    for r in self.runs if r["query"] == name]
            if not mine:
                continue
            out.update({
                f"q.{name}.build_s": med(r["build_s"] for r, _ in mine),
                f"q.{name}.exec_s": med(r["exec_s"] for r, _ in mine),
                f"q.{name}.jobs": med(s.jobs for _, s in mine),
                f"q.{name}.stages": med(len(s.stages) for _, s in mine),
                # report line only: no room for every query's in the list
                f"q.{name}.shuffle_bytes": med(s.shuffle_bytes for _, s in mine),
                f"q.{name}.task_skew": med(s.task_skew for _, s in mine),
            })
        return out

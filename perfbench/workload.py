"""What every workload shares: the run context, the fixture, the cache
probe and the pass result."""

from __future__ import annotations

import contextlib
import sys
from dataclasses import dataclass, field

from .env import RunRoot
from .procfs import JvmProbe
from .tracing import CommitLog, EventLog, Spans

#: fixture scale factor: large enough that every operator runs its real
#: plan, small enough that a run stays within its time budget
SF = 0.01


@dataclass
class Ctx:
    spark: object
    root: RunRoot
    seed: int
    trace: bool
    spans: Spans
    probe: JvmProbe
    commits: CommitLog
    fixture: str = ""
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def group(self, name: str) -> None:
        """Tag the next Spark jobs with ``name`` (traced runs only)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name, False)


@dataclass
class PassResult:
    """One timed pass: the latency of each operation and the wall time of
    the workload's bulk step (see README)."""

    ops_s: list[float]
    bulk_s: float


def make_fixture(ctx: Ctx, parent: dict) -> None:
    """Generate the seeded fixture."""
    sys.path.insert(0, ctx.root.checkout + "/scripts")
    import gen_testdata

    ctx.fixture = ctx.root.sub("fixture")
    with ctx.spans.span("scripts.gen_testdata", parent["id"]):
        with contextlib.redirect_stdout(sys.stderr):
            gen_testdata.generate(SF, ctx.fixture, ctx.seed)


def cache_state(ctx: Ctx) -> dict:
    """What the passes left cached in the session."""
    sc = ctx.spark.sparkContext
    return {
        "plans.persisted_rdds_after_pass": sc._jsc.getPersistentRDDs().size(),
        "plans.storage_mem_mb_after_pass": sum(
            i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20,
    }


class Workload:
    """Hooks a workload implements; ``run.py`` calls them in this order."""

    name = ""

    def setup(self, ctx: Ctx, parent: dict) -> None:
        """Set-up beyond the session and the fixture (timed in setup_s)."""

    def warm(self, ctx: Ctx, parent: dict) -> None:
        """Untimed warm-up before the first timed pass."""

    def one_pass(self, ctx: Ctx, index: int, parent: dict) -> PassResult:
        raise NotImplementedError

    def verify(self, ctx: Ctx, parent: dict) -> None:
        """Output checks, outside the timed region; failures go to ctx."""

    def probe(self, ctx: Ctx, parent: dict) -> dict:
        """Untimed layer probes, traced runs only, while the session is up."""
        return {}

    def layers(self, ctx: Ctx, log: EventLog) -> dict:
        """Per-layer metrics from the spans and the event log, after the
        session has stopped."""
        return {}

    def report(self) -> dict:
        """Workload-specific figures for the report line."""
        return {}

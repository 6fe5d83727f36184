"""The benchmark's workloads: fixed entry lists over the library.

An entry is one unit of closed-loop work.  ``call`` runs the library
function and returns its result (a DataFrame or a model), ``force``
materializes that result, and ``check`` compares the result of the
last timed call with its expected output, outside the timer.

Registered queries are checked against their DuckDB oracle (row count,
sorted-column schema and the bit-faithful rowset rule of
``tests/oracle.py``); the connected-components fixture against its
analytic ground truth.
"""

from __future__ import annotations

import math
import random
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import functions as F

#: registered queries of each workload, in their listed order
STREAMING = (
    "s_stream_session", "s_stream_anomaly", "s_stream_dedup",
    "s_stream_tumbling", "s_stream_join",
)
ITERATIVE = ("gmm_fit",)
EM_ITERS = 3

#: Connected-components fixture.  The library switches connected
#: components from a driver-side union-find to distributed label
#: propagation above ``dedup._CC_DRIVER_MAX`` edges (500k).  At that
#: size, in chains of 6 nodes, one call costs ~15 s on 4 cores, more
#: than a run may spend, so the iterative workload lowers the cutover
#: for its process and generates 51,000 edges in chains of 3 nodes
#: (~3.3 s per call).  The distributed loop keeps its jobs per round;
#: the shorter chains need fewer rounds.
CC_CUTOVER = 50_000
CC_NODES = 76_500
CC_GROUP = 3
CUTOVERS = {
    ("ema_bigdata_spark.operators.dedup", "_CC_DRIVER_MAX"): CC_CUTOVER,
}


@dataclass
class Entry:
    name: str
    call: Callable[[object], object]
    force: Callable[[object, object], None]
    check: Callable[[object, object], str | None]
    input_rows: int
    #: tables the entry reads
    reads: tuple[str, ...] = ()


@dataclass
class Workload:
    name: str
    entries: list[Entry]
    #: (module, attribute) -> value set for the whole process
    patches: dict[tuple[str, str], int] = field(default_factory=dict)

    @property
    def input_rows(self) -> int:
        return sum(e.input_rows for e in self.entries)

    @property
    def tables(self) -> tuple[str, ...]:
        """Tables whose first read is part of set-up."""
        return tuple(sorted({t for e in self.entries for t in e.reads}))


def pass_orders(items, seed: int):
    """Endless per-pass orders of one run's entries: one seeded shuffle
    per pass, so a seed fixes every pass's order."""
    rng = random.Random(seed)
    while True:
        order = list(items)
        rng.shuffle(order)
        yield order


def oracle_tables(sql: str, tables: tuple[str, ...]) -> tuple[str, ...]:
    """Tables an oracle statement reads, by whole-word match."""
    return tuple(t for t in tables if re.search(rf"\b{t}\b", sql))


def noop(ctx, df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _registered(ctx, name: str) -> Entry:
    from ema_bigdata_spark import registry

    fn = registry.QUERIES[name]
    reads = oracle_tables(registry.ORACLES[name], tuple(ctx.rows))

    def call(ctx):
        return fn(ctx.spark, ctx.data_dir)

    def check(ctx, df):
        rows = [tuple(r) for r in df.collect()]
        return ctx.expected.compare(name, df.columns, rows)

    return Entry(name, call, noop, check,
                 sum(ctx.rows[t] for t in reads), reads)


def _cc_relabel(seed: int) -> tuple[int, int]:
    """Monotone relabelling ``v -> a*v + b`` of the chain graph: it keeps
    every component's minimum at its first node, so the ground truth
    stays analytic."""
    return 1 + seed % 5, (seed * 7919) % 1_000_000


def _connected_components(ctx) -> Entry:
    from ema_bigdata_spark.operators import dedup

    a, b = _cc_relabel(ctx.seed)

    def call(ctx):
        edges = dedup.chain_edges(ctx.spark, CC_NODES, CC_GROUP).select(
            (F.col("doc_a") * a + b).alias("doc_a"),
            (F.col("doc_b") * a + b).alias("doc_b"),
        )
        return dedup.connected_components(edges)

    def force(ctx, labels):
        from ema_bigdata_spark.sources import sinks

        ctx.last_sink["cc"] = ctx.sink_path("cc")
        sinks.write_parquet(labels, ctx.last_sink["cc"])

    def check(ctx, _):
        labels = ctx.spark.read.parquet(ctx.last_sink["cc"])
        orig = F.expr(f"(doc_id - {b}) div {a}")
        truth = (orig - orig % CC_GROUP) * a + b
        n = labels.count()
        bad = labels.where(F.col("cluster_id") != truth).count()
        if n != CC_NODES or bad:
            return f"{n} labels (want {CC_NODES}), {bad} off ground truth"
        return None

    return Entry("cc_chain_51k_edges", call, force, check,
                 CC_NODES * (CC_GROUP - 1) // CC_GROUP)


def _gmm_events(ctx) -> Entry:
    """The library EM (``gmm.value_histogram`` + ``gmm.gmm_fit_hist``)
    on ``events.value``: the driver side of the histogram cutover."""
    from ema_bigdata_spark import gmm
    from ema_bigdata_spark.sources import tables

    def call(ctx):
        events = tables.load_table(ctx.spark, ctx.data_dir, "events")
        return gmm.gmm_fit_hist(
            gmm.value_histogram(events, "value"), k=3, tol=0.0,
            max_iter=EM_ITERS,
        )

    def check(ctx, model):
        trace = list(model.lnp_trace)
        if model.n_iter != EM_ITERS or len(trace) != EM_ITERS:
            return f"ran {model.n_iter} iterations, want {EM_ITERS}"
        if not all(math.isfinite(v) for v in trace):
            return f"non-finite log-likelihood trace {trace}"
        return None

    return Entry("gmm_fit_hist_events", call, lambda ctx, m: None, check,
                 ctx.rows["events"], ("events",))


def build(name: str, ctx) -> Workload:
    """The workload ``name`` bound to the run context ``ctx``."""
    if name == "iterative":
        entries = [_registered(ctx, q) for q in ITERATIVE]
        entries += [_gmm_events(ctx), _connected_components(ctx)]
        return Workload(name, entries, dict(CUTOVERS))
    if name == "streaming":
        entries = [_registered(ctx, q) for q in STREAMING]
        return Workload(name, entries)
    raise KeyError(name)


NAMES = ("iterative", "streaming")


def registered_names(name: str) -> tuple[str, ...]:
    """Registered queries of a workload (the ones with an oracle)."""
    return {"iterative": ITERATIVE, "streaming": STREAMING}[name]


def apply_patches(patches: dict[tuple[str, str], int]) -> None:
    """Set the workload's module constants; a missing one is an error,
    so a renamed cutover cannot silently change what is measured."""
    import importlib

    for (module, attr), value in patches.items():
        mod = importlib.import_module(module)
        if not hasattr(mod, attr):
            raise AttributeError(f"{module}.{attr} is gone")
        setattr(mod, attr, value)

"""The benchmark workloads.

Each workload is a fixed list of operations. A pass runs every operation
once, in an order drawn from the seed, with an empty session cache; the
benchmark runs passes back to back, each operation starting when the
previous one returns (a closed loop with one client).

* ``diff-migrate`` calls the public ``diff_core`` functions on a seeded
  migration pair (``migrate.py``) and checks every result against the
  generator's ground truth.
* ``registry-tail`` and ``dedup-store`` run registry queries (``q.fn``
  plus the noop sink) over a generated corpus (``corpus.py``); each
  query's output is checked once per run, in the warm-up, against its
  DuckDB oracle through ``tools/check.py``.

Why each list was chosen, what it exercises and what it bypasses is in
``DESIGN.md`` next to this file.
"""

from __future__ import annotations

import importlib.util
import os
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

#: Registry queries per workload, and the corpus scale factor each runs at.
REGISTRY_WORKLOADS: dict[str, tuple[float, list[str]]] = {
    "registry-tail": (
        0.01,
        [
            "diff_summary",
            "diff_unkeyed",
            "tpch_q3_shape",
            "tpch_q5_shape",
            "tpch_q18_shape",
            "stats_chi2_independence",
            "stats_cohens_kappa",
        ],
    ),
    "dedup-store": (
        0.001,
        [
            "dedup_minhash_exact",
            "eval_dedup_pr",
            "sketch_bloom_persisted",
            "stream_foreach_batch",
        ],
    ),
}

#: The registry workloads read one corpus, like the repository's own test
#: data; their ``--seed`` orders the queries of every pass. (``diff-migrate``
#: draws its pair from the seed.)
CORPUS_SEED = 42

#: Output columns of the registered queries that have no DuckDB oracle.
ROWS_ONLY_COLUMNS: dict[str, list[str]] = {
    "stream_foreach_batch": [
        "user_id",
        "last_value",
        "last_ts",
        "last_event_id",
        "n_events",
        "n_batches",
    ],
}

#: Orders in the ``diff-migrate`` pair; ``lineitem`` has 1–7 lines each.
MIGRATE_ORDERS = 15_000
#: The ``diff-migrate`` operations, ``<pair>.<diff_core function>``.
MIGRATE_OPS = (
    "lineitem.report",
    "lineitem.diff",
    "lineitem.column_mismatch_stats",
    "lineitem.changed_sample",
    "orders.diff_summary",
    "orders.column_mismatch_stats",
)
#: Operations a workload always runs first in a pass; the seed orders the
#: rest. ``dedup-store`` pins the builder of the session-cached MinHash
#: chain, so the miss lands on the same query whatever the seed.
PINNED_FIRST = {"dedup-store": "dedup_minhash_exact"}

WORKLOADS = ("diff-migrate", *REGISTRY_WORKLOADS)


@dataclass
class Op:
    """One user-facing call.

    ``run`` performs it and returns what ``check`` inspects. ``check``
    returns a description of what is wrong, or None. When ``check_every``
    is false the output is checked once, in the warm-up, through
    ``checked_run`` (registry queries: the noop sink leaves nothing to
    check), and a wrong answer there marks every timed run of the
    operation as failed.
    """

    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    checked_run: Callable[[], object] | None = None
    check_every: bool = True
    wrong: str | None = None


class Context:
    """What operations need: the session, the registry and the tracer."""

    def __init__(self, spark, registry, tracer):
        self.spark = spark
        self.registry = registry
        self.tracer = tracer

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def plan(self, df) -> None:
        """Plan ``df`` (Catalyst) as its own span and record plan features.

        Only traced runs do this: untraced runs leave planning inside the
        action, as a user's call does.
        """
        if not (self.tracer and self.tracer.active()):
            return
        from dataframe_differ_spark.plans.audit import plan_features

        with self.tracer.span("catalyst", "executedPlan"):
            pf = plan_features(df)
        self.tracer.count("plan.broadcast_joins", pf.broadcast_joins)
        self.tracer.count("plan.exchanges", pf.exchanges)


# ------------------------------------------------------------ registry


def _load_check_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_tools_check", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def prepare_registry(workload: str, work_dir: str, root: str, registry) -> dict:
    """Write the corpus and compute every oracle answer (DuckDB, 2 threads).

    Needs no Spark session, so it runs while the session starts.
    """
    from corpus import write_corpus

    sf, names = REGISTRY_WORKLOADS[workload]
    sf_dir = os.path.join(work_dir, f"corpus_sf{sf}")
    write_corpus(sf_dir, CORPUS_SEED, sf)
    check_mod = _load_check_module(root)
    con = check_mod.duck_con(sf_dir)
    con.execute("SET threads TO 2")
    oracles = {
        name: con.execute(registry[name].oracle).df()
        for name in names
        if registry[name].oracle is not None
    }
    con.close()
    return {"sf_dir": sf_dir, "oracles": oracles, "compare": check_mod.compare}


def registry_ops(ctx: Context, workload: str, inputs: dict) -> list[Op]:
    sf_dir, oracles = inputs["sf_dir"], inputs["oracles"]
    ops = []
    for name in REGISTRY_WORKLOADS[workload][1]:
        q = ctx.registry[name]

        def build(q=q, name=name):
            with ctx.span("queries", name):
                return q.fn(ctx.spark, sf_dir)

        def run(build=build):
            df = build()
            ctx.plan(df)
            df.write.format("noop").mode("overwrite").save()

        def checked_run(build=build):
            return build().toPandas()

        def check(pdf, name=name):
            if name not in oracles:
                want = ROWS_ONLY_COLUMNS[name]
                if len(pdf) == 0:
                    return "empty result"
                if list(pdf.columns) != want:
                    return f"columns {list(pdf.columns)} != {want}"
                return None
            return "; ".join(inputs["compare"](name, pdf, oracles[name])) or None

        ops.append(Op(name, run, check, checked_run, check_every=False))
    return ops


# ------------------------------------------------------------ diff-migrate


def prepare_migrate(seed: int, work_dir: str) -> dict:
    """Write the seeded pairs and compute their ground truth (pandas)."""
    import migrate

    pairs = migrate.make_pairs(os.path.join(work_dir, "migrate"), seed, MIGRATE_ORDERS)
    return {"pairs": pairs, "truth": {n: migrate.truth(p) for n, p in pairs.items()}}


def migrate_ops(ctx: Context, inputs: dict) -> list[Op]:
    import migrate

    import dataframe_differ_spark.operators.diff_core as D

    pairs, truth = inputs["pairs"], inputs["truth"]
    spark = ctx.spark
    frames = {
        name: (spark.read.parquet(p.left_path), spark.read.parquet(p.right_path))
        for name, p in pairs.items()
    }
    rtol = migrate.RTOL

    def collect(df):
        ctx.plan(df)
        return df.collect()

    def expect(got, want, what: str) -> str | None:
        return None if got == want else f"{what}: got {got}, want {want}"

    ops: list[Op] = []
    for name, p in pairs.items():
        L, R = frames[name]
        keys, t = p.keys, truth[name]

        def report(L=L, R=R, keys=keys):
            return D.report(L, R, keys, rtol=rtol)

        def check_report(text, t=t, keys=keys):
            return expect(_parse_report(text), _expected_report(t, keys), "report")

        def summary(L=L, R=R, keys=keys):
            rows = collect(D.diff_summary(L, R, keys))
            return {r["diff_status"]: r["cnt"] for r in rows}

        def mismatch(L=L, R=R, keys=keys):
            rows = collect(D.column_mismatch_stats(L, R, keys, rtol=rtol))
            return {
                r["column_name"]: (r["n_equal"], r["n_different"], r["n_null_mismatch"])
                for r in rows
            }

        def sample(L=L, R=R, keys=keys):
            rows = collect(D.changed_sample(L, R, keys, n=20, rtol=rtol))
            return [tuple(r[k] for k in keys) for r in rows]

        def keyed_noop(L=L, R=R, keys=keys):
            d = D.diff(L, R, keys, rtol=rtol, with_change_cols=True)
            ctx.plan(d)
            d.write.format("noop").mode("overwrite").save()

        ops += [
            Op(f"{name}.report", report, check_report),
            Op(f"{name}.diff_summary", summary,
               lambda got, t=t: expect(got, t.status, "status counts")),
            Op(f"{name}.column_mismatch_stats", mismatch,
               lambda got, t=t: expect(got, t.mismatch, "column mismatches")),
            Op(f"{name}.changed_sample", sample,
               lambda got, t=t: expect(got, t.changed_keys_tol[:20], "changed keys")),
            Op(f"{name}.diff", keyed_noop, lambda got: None),
        ]

    return [op for op in ops if op.name in MIGRATE_OPS]


def _parse_report(text: str) -> dict:
    """The counts a ``report()`` string states."""
    labels = {"unchanged": "N", "changed": "C", "only in left": "D", "only in right": "I"}
    out: dict = {"status": {}, "columns": {}, "sample": None}
    for line in text.splitlines():
        s = line.strip()
        for label, st in labels.items():
            head, _, num = s.rpartition(" ")
            if head.strip() == label and num.isdigit():
                out["status"][st] = int(num)
        if s.endswith("null-mismatch)") and ": " in s:
            col, rest = s.split(": ", 1)
            n_diff = int(rest.split(" ", 1)[0])
            n_null = int(rest.rsplit("(", 1)[1].split(" ", 1)[0])
            out["columns"][col] = (n_diff, n_null)
        if s.startswith("Sample changed keys"):
            out["sample"] = s.split(": ", 1)[1]
    return out


def _expected_report(t, keys: list[str]) -> dict:
    status = {st: t.status_tol.get(st, 0) for st in "NCDI"}
    cols = {c: (d, n) for c, (_, d, n) in t.mismatch.items() if d > 0}
    sample = str(t.changed_keys_tol[:5]) if t.changed_keys_tol else None
    return {"status": status, "columns": cols, "sample": sample}


def prepare_inputs(workload: str, seed: int, work_dir: str, root: str, registry) -> dict:
    """Everything the workload's operations read, made from ``seed``."""
    if workload == "diff-migrate":
        return prepare_migrate(seed, work_dir)
    return prepare_registry(workload, work_dir, root, registry)


def build_ops(ctx: Context, workload: str, inputs: dict) -> list[Op]:
    if workload == "diff-migrate":
        return migrate_ops(ctx, inputs)
    return registry_ops(ctx, workload, inputs)

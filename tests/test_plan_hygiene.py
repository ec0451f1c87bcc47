"""Global plan-hygiene net over the WHOLE registry: no batch query may
plan a CartesianProduct (unbounded pair blowup) or a row-at-a-time Python
UDF (BatchEvalPython — the 10-100x-slower non-Arrow path). Individual
plan shapes are asserted per-operator in test_plans.py; this sweep is the
regression net that catches a future query sneaking either scale-killer in.

Cross joins against broadcast single-row aggregates (corpus constants like
N/avgdl) plan as BroadcastNestedLoopJoin over one row — bounded and fine —
so asserting the absence of CartesianProduct specifically is the right
invariant: Spark only emits it for non-broadcastable cross products.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from cdw_spark.registry import load_all

# Streaming fns execute a bounded replay inside fn() (their plan is the
# micro-batch runtime's); their shapes are covered by test_streaming.py.
_SKIP_PREFIX = ("stream_",)


def test_no_cartesian_or_rowwise_python_in_any_batch_plan(spark, sf_dir):
    reg = load_all()

    def plan_of(item):
        name, spec = item
        return name, spec.fn(spark, sf_dir)._jdf.queryExecution().sparkPlan().toString()

    items = [
        (n, s) for n, s in reg.items() if not n.startswith(_SKIP_PREFIX)
    ]
    # Plan construction is driver-side, single-threaded-per-query work
    # (analysis + physical planning, plus any fn()-internal first()/collect
    # probes); ~415 queries serially was the single slowest test in the
    # suite (126 s of a 22-min run). Planning different queries is
    # independent, so overlap it (guide §2.6) — py4j and Catalyst handle
    # concurrent driver threads; at-rest artifact builds are
    # atomic-rename concurrent-safe by design (operators/artifacts.py).
    offenders: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for name, plan in pool.map(plan_of, items):
            for marker in ("CartesianProduct", "BatchEvalPython"):
                if marker in plan:
                    offenders[name] = marker
    assert not offenders, offenders


def test_no_footer_read_just_for_a_schema():
    """``spark.read.parquet(...).schema`` starts a Spark job only to read
    parquet footers. The engine reads parquet through
    ``catalog.read_parquet``, which declares a known schema and infers an
    unknown one once per file identity; that memo is the one place
    allowed to spend the footer job."""
    import os
    import re

    import cdw_spark

    pattern = re.compile(r"\.read\.parquet\([^()]*\)\s*\.schema\b")
    root = os.path.dirname(cdw_spark.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    text = fh.read()
                hits += [(os.path.relpath(path, root), m.group()) for m in pattern.finditer(text)]
    assert hits == [("catalog.py", ".read.parquet(path).schema")], hits

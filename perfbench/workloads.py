"""The two workloads: what each generates, runs and checks.

A workload hands the loop in ``run.py`` one *pass* at a time: a list of
operations, each a closed-loop request (one registry query from ``fn()``
through the ``noop`` sink, or one ELT step). Every pass does the same work;
the seed picks the inputs and the query order within a pass.
"""

from __future__ import annotations

import os
import random
import shutil
import traceback
from collections.abc import Callable
from dataclasses import dataclass

import fixtures
from spans import Tracer, dir_bytes

# Interactive, driver-bound reads: plan build and the Spark jobs it starts
# dominate their latency.
INTERACTIVE = (
    "star_fact_join multi_join_groupby tpch_q6_revenue_forecast "
    "tpch_q10_returned_items window_rank_topk tumbling_window_agg "
    "funnel_conversion agg_cramers_v"
).split()

# The heavier families: Arrow shingling (dedup), an at-rest artifact
# build -> hit pair, and a streaming replay. They spend the most executor
# time of the pass, though at QUERY_SF still less than the driver (see
# NOTES.md). A tuple stays in order when a pass is shuffled; the artifact
# store is cleared before every pass, so every pass builds once and hits once.
HEAVY = [
    ("dedup_ngram_prefix_filter",),
    ("recs_lists_materialize", "recs_item_cooccurrence"),
    ("stream_dedup",),
]

# Sized so that a run, which starts a JVM, warms with one cold pass and
# times one warm pass, takes about a minute on 4 cores. At these sizes the
# executors are busy 4-36% of an operation's core time (NOTES.md).
QUERY_SF = 0.01
ELT_SONGS = 2_000
ELT_EVENTS = 8_000


@dataclass
class Op:
    name: str
    kind: str  # "query", "elt_full" or "elt_batch"
    run: Callable[[Tracer | None], None]


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """Registry queries over a seeded fixture, forced through ``noop``."""

    def __init__(self, spark, work: str):
        from cdw_spark.registry import load_all

        self.spark = spark
        self.specs = load_all()
        self.units = [(n,) for n in INTERACTIVE] + HEAVY
        self.sf_dir = os.path.join(work, f"sf{QUERY_SF}")

    def generate(self, seed: int) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        fixtures.write(self.sf_dir, QUERY_SF, seed)

    def before_pass(self) -> None:
        from cdw_spark.operators.artifacts import clear_all

        clear_all()

    def _op(self, name: str) -> Op:
        spec = self.specs[name]

        def run(tr: Tracer | None) -> None:
            if tr is None:
                _sink(spec.fn(self.spark, self.sf_dir))
                return
            with tr.span("suite.build"):
                df = spec.fn(self.spark, self.sf_dir)
            with tr.span("spark.plan") as s:
                # Catalyst phase times; PhaseSummary.endTime() raises on
                # this Spark, durationMs() does not.
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                s.attrs["catalyst_s"] = sum(
                    phases.apply(k).durationMs() / 1000.0
                    for k in ("analysis", "optimization", "planning")
                    if phases.contains(k)
                )
            with tr.span("spark.sink"):
                _sink(df)

        return Op(name, "query", run)

    def pass_ops(self, rng: random.Random) -> list[Op]:
        units = list(self.units)
        rng.shuffle(units)
        return [self._op(n) for unit in units for n in unit]

    def warm(self, rng: random.Random) -> None:
        """One untimed pass that keeps each query's result for the check.
        The noop sink of the timed passes keeps none."""
        self.before_pass()
        self.results: dict[str, object] = {}
        for op in self.pass_ops(rng):
            spec = self.specs[op.name]
            try:
                self.results[op.name] = spec.fn(self.spark, self.sf_dir).toPandas()
            except Exception:
                self.results[op.name] = traceback.format_exc()

    def verify(self) -> list[Check]:
        """Each kept result against its DuckDB oracle, or, where there is
        none, required to have rows. Only the oracle side runs here."""
        from cdw_spark.compare import compare_with_connection, open_oracle

        class Collected:  # the one DataFrame method compare_with_connection calls
            def __init__(self, pdf):
                self.toPandas = lambda: pdf

        con = open_oracle(self.sf_dir)
        checks = []
        for unit in self.units:
            for name in unit:
                spec, pdf = self.specs[name], self.results.get(name)
                if isinstance(pdf, str) or pdf is None:
                    checks.append(Check(name, False, pdf or "not run"))
                    continue
                try:
                    if spec.oracle:
                        res = compare_with_connection(name, Collected(pdf), spec.oracle, con)
                        checks.append(Check(name, res.ok, "" if res.ok else str(res)))
                    else:
                        checks.append(Check(name, len(pdf) > 0, f"rows={len(pdf)}"))
                except Exception:
                    checks.append(Check(name, False, traceback.format_exc()))
        con.close()
        return checks

    def finish(self) -> dict:
        return {}


class EltWorkload:
    """The Sparkify ELT: one faithful full rebuild over every batch's files,
    then each batch as an incremental run into an empty output directory."""

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.src = os.path.join(work, "elt_src")
        self.out = os.path.join(work, "elt_out")
        self.pass_no = 0
        self.input_bytes = 0
        self.event_rows = 0
        self.full_bytes = 0

    def generate(self, seed: int) -> None:
        from tests.sparkify_data import generate

        shutil.rmtree(self.src, ignore_errors=True)
        self.log_path, self.song_path = generate(self.src, ELT_SONGS, ELT_EVENTS, seed)
        # Batch b is event file b. The whole song catalog arrives with the
        # first batch: a song that arrives after the events that play it is
        # outside run_elt_incremental's contract (facts are append-only).
        no_songs = os.path.join(self.src, "no_songs")
        os.makedirs(no_songs)
        self.batches = []
        for b, name in enumerate(sorted(os.listdir(self.log_path))):
            log = os.path.join(self.src, f"batch{b}")
            os.makedirs(log)
            os.link(os.path.join(self.log_path, name), os.path.join(log, name))
            self.batches.append((log, self.song_path if b == 0 else no_songs))
        self.input_bytes = dir_bytes(self.log_path) + dir_bytes(self.song_path)
        self.event_rows = ELT_EVENTS

    def before_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.pass_no += 1

    def _dirs(self) -> tuple[str, str]:
        base = os.path.join(self.out, f"pass{self.pass_no}")
        return os.path.join(base, "full"), os.path.join(base, "inc")

    def pass_ops(self, rng: random.Random) -> list[Op]:
        from cdw_spark.pipeline.elt import run_elt, run_elt_incremental

        full_dir, inc_dir = self._dirs()

        def full(tr):
            run_elt(self.spark, self.log_path, self.song_path, full_dir, faithful=True, mode="overwrite")

        ops = [Op("run_elt", "elt_full", full)]
        for b, (log, song) in enumerate(self.batches):
            def batch(tr, log=log, song=song):
                run_elt_incremental(self.spark, log, song, inc_dir)

            ops.append(Op(f"run_elt_incremental[{b}]", "elt_batch", batch))
        return ops

    def warm(self, rng: random.Random) -> None:
        """A fixed-mode full rebuild, which the check compares with, and a
        whole pass: one warm pass leaves the batches still 20-30% slower
        than steady state, because JIT compilation is still going on."""
        from cdw_spark.pipeline.elt import run_elt

        self.fixed = run_elt(
            self.spark, self.log_path, self.song_path, os.path.join(self.work, "elt_fixed"),
            faithful=False, mode="overwrite",
        )
        self.before_pass()
        for op in self.pass_ops(rng):
            op.run(None)

    def _rows(self, path: str) -> list[dict]:
        return [r.asDict() for r in self.spark.read.parquet(path).collect()]

    def verify(self) -> list[Check]:
        """Both stars of the last pass, against the fixed-mode full rebuild
        over the same files from the warm-up. The incremental star must
        equal it, songplay_id aside (a surrogate). The faithful star must
        equal it where the reference's quirks do not reach, and where they
        do, follow from it as the quirks say: start times truncated to the
        second (K5), one user row per distinct level (K3)."""
        from cdw_spark.pipeline.elt import INSERT_ORDER

        full_dir, inc_dir = self._dirs()
        self.full_bytes = dir_bytes(full_dir)

        def key(rows, cols):
            return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)

        def trunc(t):
            return None if t is None else t.replace(microsecond=0)

        def faithful_checks(table, fixed, got):
            if table in ("songs", "artists"):
                cols = sorted(fixed[0])
                return [("equal", key(got, cols) == key(fixed, cols))]
            if table == "songplays":
                cols = sorted(c for c in fixed[0] if c != "songplay_id")
                want = {tuple(trunc(r[c]) if c == "start_time" else r[c] for c in cols) for r in fixed}
                return [
                    ("songplay_id null (K1)", all(r["songplay_id"] is None for r in got)),
                    ("equal after K5 truncation", key(got, cols) == sorted(want, key=repr)),
                ]
            if table == "users":
                cols = sorted(fixed[0])
                got_rows = set(key(got, cols))
                return [
                    ("same users", {r["user_id"] for r in got} == {r["user_id"] for r in fixed}),
                    ("latest level among rows (K3)", set(key(fixed, cols)) <= got_rows),
                    ("rows distinct", len(got_rows) == len(got)),
                ]
            starts = {trunc(r["start_time"]) for r in fixed}
            return [
                ("start times after K5 truncation", {r["start_time"] for r in got} == starts),
                ("one row per start time", len(got) == len(starts)),
            ]

        out = []
        for table in INSERT_ORDER:
            try:
                fixed = self._rows(self.fixed[table])
                cols = sorted(c for c in fixed[0] if c != "songplay_id")
                inc = self._rows(os.path.join(inc_dir, table))
                out.append(Check(f"elt:incremental:{table}", key(inc, cols) == key(fixed, cols),
                                 f"rows fixed={len(fixed)} incremental={len(inc)}"))
                got = self._rows(os.path.join(full_dir, table))
                failed = [what for what, ok in faithful_checks(table, fixed, got) if not ok]
                out.append(Check(f"elt:faithful:{table}", not failed,
                                 f"rows fixed={len(fixed)} faithful={len(got)} failed={failed}"))
            except Exception:
                out.append(Check(f"elt:{table}", False, traceback.format_exc()))
        return out

    def finish(self) -> dict:
        return {
            "input_bytes": self.input_bytes,
            "event_rows": self.event_rows,
            "full_output_bytes": self.full_bytes,
        }


def make(name: str, spark, work: str):
    if name == "elt_sparkify":
        return EltWorkload(spark, work)
    if name == "query_suite":
        return QueryWorkload(spark, work)
    raise ValueError(f"unknown workload: {name}")


WORKLOADS = ("elt_sparkify", "query_suite")

"""``ad_daily``: one day of exports for one pipeline per op, through
``pipelines.<p>.run`` and ``export_daily`` to a BOM CSV."""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from pathlib import Path

from perfbench import stats
from perfbench.gen_ads import ROTATION, DayInputs, make_day, parse_export, spend_totals

# Recorded plateau (perfbench/plateau/ad_daily.json): the first op of a fresh
# JVM takes ~7 s, the next few ~1.2-1.6 s, and latency is flat after ~8 ops.
# Two warm-up ops take the cold op out of the timed section; waiting for the
# plateau would add ~6 s to every run.
WARMUP_OPS = 2
NOMINAL_OP_S = 0.85


class AdDaily:
    name = "ad_daily"

    def __init__(self, spark, work: Path, seed: int, n_ops: int):
        self.spark = spark
        self.work = work
        self.rng = random.Random(seed)
        self.n_ops = n_ops
        self.inputs: list[DayInputs] = []
        self.outputs: dict[tuple[int, bool], str] = {}
        self.tracer = None

    @staticmethod
    def timed_ops(seconds: int) -> int:
        n = max(stats.TAIL_MIN_BEYOND + 1, round(seconds / NOMINAL_OP_S))
        return -(-n // len(ROTATION)) * len(ROTATION)

    def prepare(self) -> None:
        """Write the inputs of every warm-up and timed op."""
        first = dt.date(2024, 1, 1) + dt.timedelta(days=self.rng.randrange(300))
        for i in range(WARMUP_OPS + self.n_ops):
            pipeline = ROTATION[i % len(ROTATION)]
            day = first + dt.timedelta(days=i)
            self.inputs.append(
                make_day(self.rng, pipeline, day, self.work / "raw" / f"op{i:04d}")
            )

    @classmethod
    def for_plateau(cls, spark, work: Path, seed: int, n: int) -> "AdDaily":
        wl = cls(spark, work, seed, max(0, n - WARMUP_OPS))
        wl.prepare()
        return wl

    def plateau_ids(self) -> range:
        return range(len(self.inputs))

    def warmup(self) -> None:
        for i in range(WARMUP_OPS):
            self.run_op(i, traced=False)

    def timed_ids(self) -> range:
        return range(WARMUP_OPS, WARMUP_OPS + self.n_ops)

    @staticmethod
    def trace_modes(k: int) -> tuple[bool, ...]:
        """A traced run repeats each op untraced and traced, in turn first."""
        return (False, True) if k % 2 == 0 else (True, False)

    def run_op(self, i: int, traced: bool) -> int:
        """Run op ``i``; returns the input rows it consumed."""
        from polars_ad_etl_spark.pipelines import PIPELINES, export_daily

        inp = self.inputs[i]
        out_dir = self.work / "out" / f"op{i:04d}{'t' if traced else ''}"
        out_dir.mkdir(parents=True)
        df = PIPELINES[inp.pipeline].run(self.spark, inp.raw_dir)
        self.outputs[(i, traced)] = export_daily(df, inp.pipeline, out_dir)
        return inp.n_input_rows

    def check(self, keys: list[tuple[int, bool]]) -> dict:
        """Errors of the ops in ``keys`` whose export is not what was expected."""
        errors = {}
        for key in keys:
            err = self._check_op(*key)
            if err is not None:
                errors[key] = err
        return errors

    def close(self) -> None:
        pass

    def _check_op(self, i: int, traced: bool) -> str | None:
        """None when op ``i``'s export holds exactly the expected rows."""
        inp = self.inputs[i]
        path = Path(self.outputs[(i, traced)])
        if path.name != inp.filename:
            return f"op {i}: file {path.name!r}, expected {inp.filename!r}"
        try:
            got = parse_export(inp.pipeline, path)
        except ValueError as e:
            return f"op {i}: {e}"
        if Counter(got) != Counter(inp.rows):
            missing = Counter(inp.rows) - Counter(got)
            extra = Counter(got) - Counter(inp.rows)
            return (f"op {i} ({inp.pipeline}): {sum(missing.values())} rows missing,"
                    f" {sum(extra.values())} unexpected, e.g. {next(iter(extra or missing))}")
        if spend_totals(inp.pipeline, got) != spend_totals(inp.pipeline, inp.rows):
            return f"op {i} ({inp.pipeline}): per-source spend totals differ"
        return None

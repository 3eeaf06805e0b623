"""The core engine: config-driven multi-source ETL as ONE lazy Catalyst plan.

Reproduces the reference's 6-stage dataflow — read -> capitalize ->
detect-source -> clean -> standardize -> union (reference
``multi_source_ad_etl.py``, chain used at ``scripts/apsl_internal.py:146-153``)
— with Spark-native execution:

- Each stage is a *plan transformation*, not a materialization. The reference
  eagerly materializes every stage per file (``self.dfs`` reassignment,
  ``multi_source_ad_etl.py:123,150,164,199``); here the whole pipeline is one
  logical plan per source file, merged by union, optimized once by Catalyst,
  and executed once at the sink. Column pruning therefore reaches the scans —
  strictly better than the reference's end-of-pipeline projection.
- Source tags ride driver-side as ``(tag, DataFrame)`` pairs instead of being
  read back out of the data (the reference does ``df["Source"][0]`` per file,
  ``multi_source_ad_etl.py:157,178`` — an action per file in Spark terms;
  SURVEY §2.12 flags this).
- Strict-cast data-quality gate via ANSI mode (reference relies on Polars'
  raise-on-bad-cast, ``multi_source_ad_etl.py:196``).

- Standardize is one SQL projection per frame (rename, typed-null fill and
  cast in a single ``selectExpr``), so building the plan costs one py4j call
  per frame rather than several per column.

Source detection is schema-based, so it needs per-file *schemas*, never
per-file data. Each file's read (with its inference jobs) is issued from a
small thread pool, so those jobs overlap.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_ad_etl_spark.plans.config import PipelineConfig
from polars_ad_etl_spark.plans.schema import quote_ident, sql_string, to_struct_type
from polars_ad_etl_spark.sources.tabular import read_tabular_dir


def _failed(col: tuple[str, str, str]) -> str:
    """SQL predicate: the raw value is present but does not cast."""
    _, sql_type, src = col
    return f"({src} IS NOT NULL AND TRY_CAST({src} AS {sql_type}) IS NULL)"


class SourceDetectionError(ValueError):
    """A file's column set matches no configured source fingerprint
    (reference ``multi_source_ad_etl.py:136``)."""


class StandardizeError(ValueError):
    """A detected source has no rename mapping at standardize time
    (reference ``multi_source_ad_etl.py:182-183``)."""


@dataclass
class TaggedFrame:
    """A DataFrame with its detected source tag (and origin path, for errors)."""

    source: str | None
    df: DataFrame
    path: str = "<memory>"


class MultiSourceAdETL:
    """Config-driven multi-source ETL engine (Spark-native).

    Same public stage chain as the reference
    (``scripts/apsl_internal.py:146-153``)::

        etl = MultiSourceAdETL(spark, config)
        out = (etl.read_tabular_files(raw_dir)
                  .capitalize_col_names()
                  .assign_source()
                  .clean_dataframes()
                  .standardize_dataframes()
                  .merge())          # -> one DataFrame (lazy)

    ``frames`` holds the per-file tagged plans between stages. Stages return
    ``self`` for chaining. Config validation happens in ``PipelineConfig``
    before any I/O (fail-fast, reference ``multi_source_ad_etl.py:35-38``).
    """

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.config = config
        self.frames: list[TaggedFrame] = []

    # ------------------------------------------------------------------ stages
    def read_tabular_files(self, raw_dir: str | Path) -> "MultiSourceAdETL":
        """Enumerate ``raw_dir``, dispatch on extension (.csv / .xlsx), error
        if nothing matched (reference ``multi_source_ad_etl.py:96-108``)."""
        self.frames = [
            TaggedFrame(None, df, path)
            for path, df in read_tabular_dir(self.spark, raw_dir)
        ]
        return self

    # Kept only because perfbench's tracer wraps this name; it goes with the
    # next change to the benchmark.
    read_tabular_files_grouped = read_tabular_files

    def with_frames(self, frames: list[tuple[str | None, DataFrame]]) -> "MultiSourceAdETL":
        """Inject in-memory frames (testing / non-file sources like Sheets)."""
        self.frames = [TaggedFrame(tag, df) for tag, df in frames]
        return self

    def capitalize_col_names(self) -> "MultiSourceAdETL":
        """Normalize header case: ``str.capitalize()`` per column — first char
        upper, rest lower (reference ``multi_source_ad_etl.py:110-124``)."""
        self.frames = [
            TaggedFrame(f.source, f.df.toDF(*[c.capitalize() for c in f.df.columns]), f.path)
            for f in self.frames
        ]
        return self

    def _detect_source(self, columns: list[str]) -> str:
        """First source (config insertion order) whose fingerprint column set
        is a subset of the file's columns wins; unknown raises (reference
        ``multi_source_ad_etl.py:126-136``)."""
        colset = set(columns)
        for source, fingerprint in self.config.source_config.items():
            if set(fingerprint) <= colset:
                return source
        raise SourceDetectionError(
            f"no configured source matches columns {sorted(colset)}"
        )

    def assign_source(self) -> "MultiSourceAdETL":
        """Detect each frame's source from its schema (driver-side, no data
        read) and add the provenance column, reordered first (reference
        ``multi_source_ad_etl.py:138-151``)."""
        out = []
        for f in self.frames:
            src = f.source if f.source is not None else self._detect_source(
                f.df.columns
            )
            tagged = f.df.select(
                F.lit(src).alias(self.config.source_column), "*"
            )
            out.append(TaggedFrame(src, tagged, f.path))
        self.frames = out
        return self

    def clean_dataframes(self) -> "MultiSourceAdETL":
        """Apply each source's cleaner chain in order via ``df.transform``
        (reference ``multi_source_ad_etl.py:153-168``; fn-or-list normalization
        happens in PipelineConfig)."""
        out = []
        for f in self.frames:
            df = f.df
            for fn in self.config.cleaners.get(f.source, []):
                df = df.transform(fn)
            out.append(TaggedFrame(f.source, df, f.path))
        self.frames = out
        return self

    def standardize_dataframes(self, mode: str = "strict") -> "MultiSourceAdETL":
        """rename -> add missing columns as typed nulls -> project to schema
        order -> cast to declared types (reference
        ``multi_source_ad_etl.py:170-200``), built as ONE ``selectExpr`` per
        frame: ``CAST(`raw` AS type) AS `standard``` per column, with quoted
        identifiers so names holding ``.`` or backticks resolve as written.

        Three strictness modes (SURVEY §1.4); the projection, the audit
        aggregates and the quarantine flags all come from ``_standard_sources``:

        - ``"strict"`` (default): plain ``cast`` under the ANSI session — a
          bad value raises at action time, the Spark equivalent of Polars'
          raise-on-bad-cast (reference ``multi_source_ad_etl.py:196``).
        - ``"audit"``: ``try_cast`` — bad values become nulls instead of
          failing the job, and ``cast_audit()`` returns the per-source,
          per-column count of rows where the raw value was non-null but the
          cast nulled it. The production pattern for quarantining a bad
          drop without losing the night's run.
        - ``"quarantine"``: rows whose every cast succeeds flow on (cast
          applied); rows with any failing cast are diverted — ``quarantine()``
          returns them with their source, path, failing column names, and the
          raw row as JSON (union-safe across files whose pre-cast types
          differ). Row-level split, vs audit's column-level counts.
        """
        if mode not in ("strict", "audit", "quarantine"):
            raise ValueError(f"unknown cast mode {mode!r}")
        cast_fn = "CAST" if mode == "strict" else "TRY_CAST"
        src_col = self.config.source_column
        out = []
        self._audits = []
        self._quarantines = []
        for f in self.frames:
            if f.source not in self.config.rename_config:
                raise StandardizeError(
                    f"no rename mapping for detected source {f.source!r} ({f.path})"
                )
            cols = self._standard_sources(f)
            data = [c for c in cols if c[0] != src_col]
            df = f.df
            if mode == "audit":
                self._audits.append((f.source, f.path, df.selectExpr(*[
                    f"sum(CAST({_failed(c)} AS BIGINT)) AS {quote_ident(c[0])}"
                    for c in data
                ])))
            elif mode == "quarantine":
                bad = ", ".join(
                    f"CASE WHEN {_failed(c)} THEN {sql_string(c[0])} END"
                    for c in data
                )
                df = df.selectExpr("*", f"array_compact(array({bad})) AS _bad_cols")
                raw_row = ", ".join(f"{sql_string(n)}, {src}" for n, _, src in data)
                self._quarantines.append(
                    df.filter("size(_bad_cols) > 0").selectExpr(
                        f"{sql_string(f.source)} AS source",
                        f"{sql_string(str(f.path))} AS path",
                        "_bad_cols AS bad_columns",
                        f"to_json(named_struct({raw_row})) AS raw_row",
                    )
                )
                df = df.filter("size(_bad_cols) = 0")
            df = df.selectExpr(*[
                f"{cast_fn}({src} AS {sql_type}) AS {quote_ident(name)}"
                for name, sql_type, src in cols
            ])
            out.append(TaggedFrame(f.source, df, f.path))
        self.frames = out
        return self

    def _standard_sources(self, f: TaggedFrame) -> list[tuple[str, str, str]]:
        """``(name, SQL type, source expression)`` per standard column, in
        schema order: the quoted raw column the source's rename map sends
        there (keys match headers case-insensitively, like Spark's resolver),
        the column of that name when none does, or a typed NULL when the
        frame has neither (the source column is never filled)."""
        mapping = self.config.rename_config[f.source]
        folded = {k.lower(): v for k, v in mapping.items()}
        raw_for: dict[str, str] = {}
        for c in f.df.columns:
            std = mapping.get(c, folded.get(c.lower(), c))
            if std in raw_for and std in self.config.standard_schema:
                raise StandardizeError(
                    f"columns {raw_for[std]!r} and {c!r} both standardize "
                    f"to {std!r} ({f.path})"
                )
            raw_for.setdefault(std, c)
        out = []
        for name, dtype in self.config.standard_schema.items():
            sql_type = dtype.simpleString()
            raw = raw_for.get(name, name if name == self.config.source_column else None)
            src = f"CAST(NULL AS {sql_type})" if raw is None else quote_ident(raw)
            out.append((name, sql_type, src))
        return out

    def cast_audit(self) -> DataFrame:
        """Audit-mode report: one row per (source, path, column) with the
        count of values the cast nulled out. Each per-file aggregate is one
        row wide; the unpivot to rows is a literal ``stack`` — no extra
        shuffle beyond the count aggregates themselves."""
        if not getattr(self, "_audits", None):
            raise ValueError(
                "no audit data — run standardize_dataframes(mode='audit') first"
            )
        cols = [
            name
            for name in self.config.standard_schema
            if name != self.config.source_column
        ]
        stack_args = ", ".join(f"{sql_string(c)}, {quote_ident(c)}" for c in cols)
        parts = [
            agg.select(
                F.lit(source).alias("source"),
                F.lit(path).alias("path"),
                F.expr(
                    f"stack({len(cols)}, {stack_args}) AS (column, n_failed)"
                ),
            )
            for source, path, agg in self._audits
        ]
        return functools.reduce(lambda a, b: a.unionByName(b), parts)

    def quarantine(self) -> DataFrame:
        """Quarantine-mode report: one row per diverted input row with
        (source, path, bad_columns, raw_row-as-JSON). Lazy union; each file's
        branch shares its scan with the good-row branch until the sink. The
        JSON raw_row keeps the union schema-stable even when pre-cast column
        types differ between files."""
        if not getattr(self, "_quarantines", None):
            raise ValueError(
                "no quarantine data — run "
                "standardize_dataframes(mode='quarantine') first"
            )
        return functools.reduce(
            lambda a, b: a.unionByName(b), self._quarantines
        )

    def merge(self) -> DataFrame:
        """n-ary vertical union of the standardized frames — all must share
        the exact standard schema, which standardize guarantees (reference
        ``merge_and_collect``, ``multi_source_ad_etl.py:202-205``). Lazy: this
        returns the unexecuted union plan."""
        if not self.frames:
            raise ValueError("no frames to merge — run read stages first")
        dfs = [f.df for f in self.frames]
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=False), dfs
        )

    # Reference-compatible alias (its `merge_and_collect` is an eager concat;
    # ours stays lazy — the driver/sink triggers execution).
    merge_and_collect = merge

    # ---------------------------------------------------------------- helpers
    def run(self, raw_dir: str | Path, cast_mode: str = "strict") -> DataFrame:
        """The full default chain in one call."""
        self.read_tabular_files(raw_dir)
        if self.config.capitalize:
            self.capitalize_col_names()
        return (
            self.assign_source()
            .clean_dataframes()
            .standardize_dataframes(mode=cast_mode)
            .merge()
        )

    @property
    def struct_type(self):
        return to_struct_type(self.config.standard_schema)

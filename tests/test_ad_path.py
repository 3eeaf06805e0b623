"""The daily ad path end to end: concurrent per-file reads, standardize as one
SQL projection (parity with the Column-API formulation it replaced, names
that need quoting), the one-action export, and the per-layer job counts."""

from __future__ import annotations

import dataclasses
import json
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from polars_ad_etl_spark.pipelines import apsl, export_daily, like_eat
from polars_ad_etl_spark.plans import MultiSourceAdETL, PipelineConfig
from polars_ad_etl_spark.plans.schema import Date, Float64, Int64, String
from polars_ad_etl_spark.sources.tabular import (
    EmptyDirectoryError,
    read_csv_dir_grouped,
    read_tabular_dir,
)
from test_pipelines_golden import APSL_META, APSL_TIKTOK, APSL_X

LIKE_EAT_META = """일,캠페인 이름,광고 세트 이름,광고 이름,웹사이트 URL,지출 금액 (KRW),노출,빈도,도달,링크 클릭,공유 항목이 포함된 장바구니에 담기,공유 항목이 포함된 구매,공유 항목의 구매 전환값,동영상 25% 재생,동영상 50% 재생,동영상 75% 재생,동영상 95% 재생,동영상 100% 재생,동영상 재생,THRUPLAY
2024-06-01,캠페인A,세트A,광고A,http://k,15000.5,5000,1.5,4000,120,10,5,75000.0,50,40,30,20,10,60,25
"""

# A Meta export with one bad date and one non-numeric count: strict mode
# raises on it, audit nulls the two cells, quarantine diverts the two rows.
APSL_META_DIRTY = """Day,Account name,Campaign name,Ad set name,Ad name,Amount spent (USD),Impressions,Reach,Frequency,Link clicks,Registrations completed,Adds to cart,Checkouts initiated,Purchases,Purchases conversion value
2024-03-03,acct,camp_m,set2,ad3,11.0,1100,900,1.2,31,5,4,3,2,99.0
2024-13-45,acct,camp_m,set2,ad4,12.0,1200,950,1.3,32,5,4,3,2,98.0
2024-03-04,acct,camp_m,set2,ad5,13.0,lots,960,1.4,33,5,4,3,2,97.0
"""


def _write(path, files):
    for name, content in files.items():
        (path / name).write_text(content, encoding="utf-8")
    return path


@contextmanager
def _job_group(sc, group):
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _jobs(sc, group) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


# ----------------------------------------------------------------- sources
def test_read_tabular_dir_sorted_and_in_callers_job_group(spark, tmp_path):
    names = ["c.csv", "a.csv", "e.csv", "b.csv", "d.csv"]
    _write(tmp_path, {n: f"k,v\n{n[0]},{i}\n" for i, n in enumerate(names)})
    (tmp_path / "notes.txt").write_text("ignored")
    sc = spark.sparkContext
    with _job_group(sc, "test-read-dir"):
        out = read_tabular_dir(spark, tmp_path)
    assert [os.path.basename(p) for p, _ in out] == sorted(names)
    assert [df.first()["k"] for _, df in out] == ["a", "b", "c", "d", "e"]
    # header + inference job per CSV, all in the caller's group
    assert _jobs(sc, "test-read-dir") == 2 * len(names)


def test_grouped_read_order_and_job_group(spark, tmp_path):
    _write(tmp_path, {
        "b2.csv": "Day,Clicks\n2026-01-05,3\n",
        "a2.csv": "Day,Spend\n2026-01-03,20\n",
        "b1.csv": "Day,Clicks\n2026-01-04,7\n",
        "a1.csv": "Day,Spend\n2026-01-02,10\n",
    })
    sc = spark.sparkContext
    with _job_group(sc, "test-read-grouped"):
        groups = read_csv_dir_grouped(
            spark, tmp_path, lambda cols: "S" if "Spend" in cols else "C"
        )
    assert [(src, [os.path.basename(p) for p in paths]) for src, paths, _ in groups] == [
        ("S", ["a1.csv", "a2.csv"]),
        ("C", ["b1.csv", "b2.csv"]),
    ]
    assert sorted(r["Spend"] for r in groups[0][2].collect()) == [10, 20]
    assert sorted(r["Clicks"] for r in groups[1][2].collect()) == [3, 7]
    assert _jobs(sc, "test-read-grouped") >= 2 * len(groups)


def test_empty_dir_raises_on_both_read_paths(spark, tmp_path):
    (tmp_path / "notes.txt").write_text("not tabular")
    with pytest.raises(EmptyDirectoryError):
        read_tabular_dir(spark, tmp_path)
    with pytest.raises(EmptyDirectoryError):
        read_csv_dir_grouped(spark, tmp_path, lambda cols: "S")


# ------------------------------------------------------------- standardize
def _column_api_standardize(frames, cfg, mode):
    """The per-column formulation standardize used before it became one
    projection: ``withColumnsRenamed`` (case-insensitive), typed-null fill
    via ``withColumns``, then ``cast``/``try_cast`` per column. Returns
    (merged rows, audit {(source, path, column): n}, quarantine rows)."""
    schema, src_col = cfg.standard_schema, cfg.source_column
    data = [(n, t) for n, t in schema.items() if n != src_col]
    outs, audit, quarantined = [], {}, []
    for f in frames:
        df = f.df.withColumnsRenamed(cfg.rename_config[f.source])
        missing = {
            n: F.lit(None).cast(t)
            for n, t in schema.items()
            if n not in df.columns and n != src_col
        }
        if missing:
            df = df.withColumns(missing)

        def failed(n, t):
            return F.col(n).isNotNull() & F.col(n).try_cast(t).isNull()

        if mode == "audit":
            row = df.agg(*[F.sum(failed(n, t).cast("long")).alias(n) for n, t in data]).first()
            audit.update({(f.source, f.path, n): row[n] for n, _ in data})
        if mode == "quarantine":
            flagged = df.withColumn("_bad", F.array_compact(F.array(
                *[F.when(failed(n, t), F.lit(n)) for n, t in data]
            )))
            quarantined += [
                (f.source, str(f.path), list(r["_bad"]), r["raw"])
                for r in flagged.filter(F.size("_bad") > 0)
                .select("_bad", F.to_json(F.struct(*[n for n, _ in data])).alias("raw"))
                .collect()
            ]
            df = flagged.filter(F.size("_bad") == 0).drop("_bad")
        cast = (lambda c, t: c.cast(t)) if mode == "strict" else (lambda c, t: c.try_cast(t))
        outs.append(df.select(*[cast(F.col(n), t).alias(n) for n, t in schema.items()]))
    merged = outs[0]
    for df in outs[1:]:
        merged = merged.unionByName(df)
    return merged, audit, sorted(quarantined, key=repr)


_APSL_DAY = {"meta.csv": APSL_META, "tiktok.csv": APSL_TIKTOK, "x.csv": APSL_X}
_CASES = {
    # headers are capitalized first, so rename keys match exactly
    "apsl": (apsl.config(), _APSL_DAY),
    # no capitalize: "Amount spent (usd)" and "By day" keys differ from the
    # headers only in case and must still rename
    "apsl_case_only_keys": (dataclasses.replace(apsl.config(), capitalize=False), _APSL_DAY),
    "like_eat": (like_eat.config(), {"meta.csv": LIKE_EAT_META}),
}


@pytest.mark.parametrize("mode", ["strict", "audit", "quarantine"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_standardize_projection_matches_column_api(spark, tmp_path, case, mode):
    cfg, files = _CASES[case]
    files = dict(files)
    if mode != "strict" and case.startswith("apsl"):
        files["meta_dirty.csv"] = APSL_META_DIRTY
    etl = MultiSourceAdETL(spark, cfg).read_tabular_files(_write(tmp_path, files))
    if cfg.capitalize:
        etl.capitalize_col_names()
    etl.assign_source().clean_dataframes()
    ref, ref_audit, ref_quarantine = _column_api_standardize(etl.frames, cfg, mode)

    got = etl.standardize_dataframes(mode=mode).merge()
    assert got.schema == ref.schema
    assert _rows(got) == _rows(ref)
    if mode == "audit":
        audit = {(r.source, r.path, r.column): r.n_failed for r in etl.cast_audit().collect()}
        assert audit == ref_audit
        if "meta_dirty.csv" in files:
            assert sum(audit.values()) == 2
    if mode == "quarantine":
        if "meta_dirty.csv" in files:
            quarantined = sorted(
                ((r.source, r.path, list(r.bad_columns), r.raw_row)
                 for r in etl.quarantine().collect()),
                key=repr,
            )
            assert quarantined == ref_quarantine
            assert len(quarantined) == 2
        else:
            assert ref_quarantine == []


@pytest.mark.parametrize("mode", ["strict", "audit", "quarantine"])
def test_standardize_names_needing_quotes(spark, tmp_path, mode):
    """Dotted, backticked and Korean names, as raw headers and as standard
    columns (a dotted one filled as a typed null)."""
    rows = "Day,Avg. CPC,Cost `net`,지출\n2024-07-01,0.5,12,1000.5\n"
    if mode != "strict":
        rows += "2024-07-02,0.75,NOPE,2000.0\n"
    (tmp_path / "s.csv").write_text(rows, encoding="utf-8")
    cfg = PipelineConfig(
        rename_config={"S": {
            "Day": "Day",
            "Avg. CPC": "Avg. CPC (USD)",
            "Cost `net`": "Cost `net`",
            "지출": "지출 금액",
        }},
        standard_schema={
            "Day": Date,
            "Source": String,
            "Avg. CPC (USD)": Float64,
            "Cost `net`": Int64,
            "지출 금액": Float64,
            "Note.x": String,
        },
        source_config={"S": ["Avg. CPC"]},
        capitalize=False,
    )
    etl = (
        MultiSourceAdETL(spark, cfg)
        .read_tabular_files(tmp_path)
        .assign_source()
        .clean_dataframes()
        .standardize_dataframes(mode=mode)
    )
    out = etl.merge()
    assert out.columns == list(cfg.standard_schema)
    good = {r["Day"].isoformat(): r for r in out.collect()}
    first = good["2024-07-01"]
    assert (first["Avg. CPC (USD)"], first["Cost `net`"], first["지출 금액"], first["Note.x"]) == (
        0.5, 12, 1000.5, None
    )
    if mode == "audit":
        audit = {r.column: r.n_failed for r in etl.cast_audit().collect()}
        assert audit == {
            "Day": 0, "Avg. CPC (USD)": 0, "Cost `net`": 1, "지출 금액": 0, "Note.x": 0
        }
        assert good["2024-07-02"]["Cost `net`"] is None
    if mode == "quarantine":
        (bad,) = etl.quarantine().collect()
        assert list(bad.bad_columns) == ["Cost `net`"]
        assert json.loads(bad.raw_row)["Cost `net`"] == "NOPE"
        assert json.loads(bad.raw_row)["Avg. CPC (USD)"] == 0.75
        assert list(good) == ["2024-07-01"]


def test_standardize_rejects_two_columns_for_one_standard_name(spark):
    """A raw column already carrying a standard name plus a rename onto that
    name would leave two candidates; standardize refuses to pick one."""
    from polars_ad_etl_spark.plans.pipeline import StandardizeError

    df = spark.createDataFrame([("2024-01-01", "2024-01-02")], ["Day", "By day"])
    cfg = PipelineConfig(
        rename_config={"S": {"By day": "Day"}},
        standard_schema={"Day": Date, "Source": String},
        source_config={"S": ["By day"]},
        capitalize=False,
    )
    etl = MultiSourceAdETL(spark, cfg).with_frames([(None, df)]).assign_source()
    with pytest.raises(StandardizeError, match="both standardize to 'Day'"):
        etl.standardize_dataframes()


# ------------------------------------------------------------------ export
def test_apsl_day_job_counts_per_layer(spark, tmp_path):
    """Deterministic counters for one apsl day (3 CSVs): 2 jobs per CSV to
    read (header + schema inference), none to build the plan, one to export
    (the date range rides the write as an observation)."""
    raw, out_dir = tmp_path / "raw", tmp_path / "out"
    raw.mkdir()
    out_dir.mkdir()
    _write(raw, _APSL_DAY)
    sc = spark.sparkContext
    etl = MultiSourceAdETL(spark, apsl.config())
    with _job_group(sc, "test-gate-read"):
        etl.read_tabular_files(raw)
    with _job_group(sc, "test-gate-plan"):
        df = (etl.capitalize_col_names().assign_source().clean_dataframes()
              .standardize_dataframes().merge())
    with _job_group(sc, "test-gate-export"):
        path = export_daily(df, "apsl", out_dir)
    assert _jobs(sc, "test-gate-read") == 2 * len(_APSL_DAY)
    assert _jobs(sc, "test-gate-plan") == 0
    assert _jobs(sc, "test-gate-export") == 1
    assert os.listdir(out_dir) == ["apsl_2024-03-01–2024-03-02.csv"]
    assert path == str(out_dir / "apsl_2024-03-01–2024-03-02.csv")


@pytest.mark.parametrize("fmt", ["csv", "xlsx"])
def test_export_without_dates_raises_and_leaves_no_file(spark, tmp_path, fmt):
    all_null = spark.createDataFrame([(None, 1), (None, 2)], "Day date, v int")
    empty = all_null.limit(0)
    for df in (all_null, empty):
        with pytest.raises(ValueError, match="empty or all null"):
            export_daily(df, "apsl", tmp_path, fmt=fmt)
    assert os.listdir(tmp_path) == []


def test_failed_export_leaves_no_file(spark, tmp_path):
    raw, out_dir = tmp_path / "raw", tmp_path / "out"
    raw.mkdir()
    out_dir.mkdir()
    _write(raw, {"meta.csv": APSL_META_DIRTY})
    df = apsl.run(spark, raw)  # ANSI strict cast: the bad date raises at write
    with pytest.raises(Exception, match="2024-13-45|CAST"):
        export_daily(df, "apsl", out_dir)
    assert os.listdir(out_dir) == []

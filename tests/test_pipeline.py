"""Golden end-to-end pipeline tests (SURVEY §5.2-2): synthetic raw CSVs per
source shaped like the mappings declare -> full 6-stage chain -> expected
standardized union."""

import datetime as dt

import pytest

from polars_ad_etl_spark.plans import MultiSourceAdETL, PipelineConfig
from polars_ad_etl_spark.plans.schema import Date, Float64, Int64, String
from polars_ad_etl_spark.functions.cleaners import (
    clean_x_avg_frequency,
    remove_tiktok_total_row,
)
from polars_ad_etl_spark.sources.tabular import EmptyDirectoryError

META_CSV = """day,campaign name,amount spent (usd),impressions,purchases conversion value
2024-01-01,alpha,10.5,100,50.0
2024-01-02,beta,20.0,200,70.5
"""

# The "Total of N days" summary marker lives in the raw FIRST column; after
# the Source column is prepended at assign_source, the positional cleaner's
# columns[1] lands exactly there (reference data_clean_lib.py:16 +
# multi_source_ad_etl.py:144-146 ordering).
TIKTOK_CSV = """by day,campaign name,cost,impressions
2024-01-01,gamma,5.25,50
Total of 2 days,total,25.25,250
2024-01-03,delta,7.75,70
"""


@pytest.fixture()
def config():
    return PipelineConfig(
        rename_config={
            "Meta": {
                "Day": "Day",
                "Campaign name": "Campaign name",
                "Amount spent (usd)": "Amount spent (USD)",
                "Impressions": "Impressions",
                "Purchases conversion value": "Purchases conversion value",
            },
            "TikTok": {
                "By day": "Day",
                "Campaign name": "Campaign name",
                "Cost": "Amount spent (USD)",
                "Impressions": "Impressions",
            },
        },
        standard_schema={
            "Day": Date,
            "Source": String,
            "Campaign name": String,
            "Amount spent (USD)": Float64,
            "Impressions": Int64,
            "Purchases conversion value": Float64,
        },
        source_config={
            "Meta": ["Day", "Purchases conversion value"],
            "TikTok": ["By day", "Cost"],
        },
        cleaner_config={"TikTok": remove_tiktok_total_row},
    )


@pytest.fixture()
def raw_dir(tmp_path):
    (tmp_path / "meta_export.csv").write_text(META_CSV)
    (tmp_path / "tiktok_export.csv").write_text(TIKTOK_CSV)
    return tmp_path


def test_full_chain(spark, config, raw_dir):
    out = MultiSourceAdETL(spark, config).run(raw_dir)
    # exact standard schema, in config dict order
    assert out.columns == [
        "Day",
        "Source",
        "Campaign name",
        "Amount spent (USD)",
        "Impressions",
        "Purchases conversion value",
    ]
    assert dict(out.dtypes) == {
        "Day": "date",
        "Source": "string",
        "Campaign name": "string",
        "Amount spent (USD)": "double",
        "Impressions": "bigint",
        "Purchases conversion value": "double",
    }
    rows = sorted(out.collect(), key=lambda r: (r["Day"], r["Source"]))
    # TikTok Total row removed; 2 Meta + 2 TikTok survive
    assert len(rows) == 4
    assert [r["Source"] for r in rows] == ["Meta", "TikTok", "Meta", "TikTok"]
    tiktok_first = rows[1]
    assert tiktok_first["Day"] == dt.date(2024, 1, 1)
    assert tiktok_first["Amount spent (USD)"] == 5.25
    # TikTok lacks "Purchases conversion value" -> typed null (P4)
    assert tiktok_first["Purchases conversion value"] is None


def test_unknown_source_raises(spark, config, tmp_path):
    (tmp_path / "mystery.csv").write_text("a,b\n1,2\n")
    etl = MultiSourceAdETL(spark, config)
    with pytest.raises(ValueError, match="no configured source"):
        etl.run(tmp_path)


def test_empty_dir_raises(spark, config, tmp_path):
    with pytest.raises(EmptyDirectoryError):
        MultiSourceAdETL(spark, config).run(tmp_path)


def test_capitalize_stage(spark, config):
    df = spark.createDataFrame([(1,)], ["aMOUNT SPENT (usd)"])
    etl = MultiSourceAdETL(spark, config).with_frames([(None, df)])
    assert etl.capitalize_col_names().frames[0].df.columns == ["Amount spent (usd)"]


def test_audit_cast_mode_nulls_and_reports(spark, tmp_path):
    """SURVEY §1.4 audit mode: try_cast nulls bad values instead of raising,
    and cast_audit() counts exactly the nulled cells per source/column."""
    from pyspark.sql.types import DateType, LongType, StringType

    from polars_ad_etl_spark.plans.config import PipelineConfig
    from polars_ad_etl_spark.plans.pipeline import MultiSourceAdETL

    (tmp_path / "a.csv").write_text(
        "Day,Spend\n2026-01-02,10\nBADDATE,20\n2026-01-04,NOPE\n"
    )
    cfg = PipelineConfig(
        rename_config={"S1": {"Day": "Day", "Spend": "Spend"}},
        standard_schema={
            "Day": DateType(),
            "Spend": LongType(),
            "Source": StringType(),
        },
        source_config={"S1": ["Day", "Spend"]},
    )
    etl = (
        MultiSourceAdETL(spark, cfg)
        .read_tabular_files(str(tmp_path))
        .assign_source()
        .clean_dataframes()
        .standardize_dataframes(mode="audit")
    )
    rows = etl.merge().orderBy("Spend").collect()
    assert len(rows) == 3  # nothing raised, nothing dropped
    assert sum(1 for r in rows if r.Day is None) == 1
    assert sum(1 for r in rows if r.Spend is None) == 1

    audit = {
        (r.source, r.column): r.n_failed for r in etl.cast_audit().collect()
    }
    assert audit[("S1", "Day")] == 1
    assert audit[("S1", "Spend")] == 1

    # strict mode on the same input still raises at action time
    with pytest.raises(Exception):
        MultiSourceAdETL(spark, cfg).run(str(tmp_path)).collect()


def test_quarantine_cast_mode_splits_rows(spark, tmp_path):
    """Quarantine mode: rows whose every cast succeeds flow through typed;
    rows with any failing cast land in quarantine() with the failing column
    names and the raw row as JSON."""
    import json

    from pyspark.sql.types import DateType, LongType, StringType

    from polars_ad_etl_spark.plans.config import PipelineConfig
    from polars_ad_etl_spark.plans.pipeline import MultiSourceAdETL

    (tmp_path / "a.csv").write_text(
        "Day,Spend\n2026-01-02,10\nBADDATE,20\n2026-01-04,NOPE\n"
    )
    cfg = PipelineConfig(
        rename_config={"S1": {"Day": "Day", "Spend": "Spend"}},
        standard_schema={
            "Day": DateType(),
            "Spend": LongType(),
            "Source": StringType(),
        },
        source_config={"S1": ["Day", "Spend"]},
    )
    etl = (
        MultiSourceAdETL(spark, cfg)
        .read_tabular_files(str(tmp_path))
        .assign_source()
        .clean_dataframes()
        .standardize_dataframes(mode="quarantine")
    )
    good = etl.merge().collect()
    assert [(r.Day.isoformat(), r.Spend) for r in good] == [("2026-01-02", 10)]
    quarantined = etl.quarantine().collect()
    assert len(quarantined) == 2
    by_bad = {tuple(r.bad_columns): json.loads(r.raw_row) for r in quarantined}
    assert by_bad[("Day",)]["Day"] == "BADDATE"
    assert by_bad[("Spend",)]["Spend"] == "NOPE"
    assert all(r.source == "S1" for r in quarantined)


def test_observe_quality_metrics_no_extra_pass(spark):
    """The Observation API yields row/null/sum metrics as a side effect of
    the caller's own action — no second scan, exact decimal totals."""
    from polars_ad_etl_spark.plans.observability import observe_quality

    df = spark.createDataFrame(
        [("a", 1.5), ("b", None), ("c", 2.25), (None, 4.0)],
        ["name", "spend"],
    )
    observed, obs = observe_quality(
        df, "probe", null_cols=["name", "spend"], sum_col="spend"
    )
    assert observed.count() == 4  # the pipeline's own action
    m = obs.get
    assert m["n_rows"] == 4
    assert m["null_name"] == 1
    assert m["null_spend"] == 1
    assert m["sum_spend"] == 7.75

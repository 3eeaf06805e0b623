import datetime as dt

import pytest

from polars_ad_etl_spark.utils import (
    column_letter,
    format_as_columns,
    make_date_filename,
    shape_to_a1,
)


def test_column_letter_bijective_base26():
    assert column_letter(1) == "A"
    assert column_letter(26) == "Z"
    assert column_letter(27) == "AA"
    assert column_letter(52) == "AZ"
    assert column_letter(703) == "AAA"
    with pytest.raises(ValueError):
        column_letter(0)


def test_shape_to_a1_modes():
    assert shape_to_a1(100, 17, "column_range") == "A:Q"
    assert shape_to_a1(100, 17, "full_range") == "A1:Q101"
    assert shape_to_a1(100, 17, "full_range", header=False) == "A1:Q100"
    assert shape_to_a1(3, 2, "full_range", row_offset=1, col_offset=1) == "B2:C5"
    with pytest.raises(ValueError):
        shape_to_a1(1, 1, "nope")


def test_make_date_filename_en_dash(spark):
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 2), 1), (dt.date(2024, 2, 3), 2)], ["Day", "v"]
    ).selectExpr("cast(Day as date) as Day", "v")
    assert make_date_filename(df, "report") == "report_2024-01-02–2024-02-03.csv"


def test_make_date_filename_requires_date_column(spark):
    df = spark.createDataFrame([(1,)], ["v"])
    with pytest.raises(ValueError, match="no Date column"):
        make_date_filename(df, "x")


def test_make_date_filename_rejects_empty_date_range(spark):
    all_null = spark.createDataFrame([(None, 1)], "Day date, v int")
    for df in (all_null, all_null.limit(0)):
        with pytest.raises(ValueError, match="empty or all null"):
            make_date_filename(df, "x")


def test_make_date_filename_dotted_date_column(spark):
    df = spark.createDataFrame([(dt.date(2024, 1, 2),)], "`Report.day` date")
    assert make_date_filename(df, "r") == "r_2024-01-02–2024-01-02.csv"


def test_format_as_columns():
    out = format_as_columns(["aa", "b", "c", "d"], n_cols=2, width=6)
    assert out == "1. aa 2. b\n3. c  4. d"
    with pytest.raises(TypeError):
        format_as_columns([1, 2])  # type: ignore[list-item]
    with pytest.raises(ValueError):
        format_as_columns(["a"], n_cols=0)

"""Seeded per-day ad-platform exports for the four shipped pipelines, with the
rows each pipeline must export for them.

Each source is pinned here as (raw header, standard column or None) pairs,
copied from the pipelines' declared mappings (FIXTURES.md A1-A7), so the
expected output is computed without importing the program's configs. Every
source file carries its quirk rows: TikTok ``Total`` summary rows and a row
with an empty date, X ``"-"`` frequencies, ``.mp4`` ad names, Naver GFA
``2024.03.05.`` dates and combined age/gender cells.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from decimal import Decimal
from pathlib import Path

DATE, STR, INT, FLOAT = "date", "str", "int", "float"

# Fixed pipeline rotation: one op runs one day of one pipeline.
ROTATION = ("apsl", "manaboo", "podl", "like_eat")
ROWS_PER_FILE = 100

_APSL_SCHEMA = [
    ("Day", DATE), ("Source", STR), ("Account name", STR), ("Campaign name", STR),
    ("Ad set name", STR), ("Ad name", STR), ("Amount spent (USD)", FLOAT),
    ("Impressions", INT), ("Reach", INT), ("Frequency", FLOAT), ("Link clicks", INT),
    ("Registrations completed", INT), ("Adds to cart", INT),
    ("Checkouts initiated", INT), ("Purchases", INT),
    ("Purchases conversion value", FLOAT), ("Leads", INT),
]
_MANABOO_SCHEMA = [
    ("Source", STR), ("Day", DATE), ("Campaign name", STR), ("Ad Set Name", STR),
    ("Ad name", STR), ("Gender", STR), ("Age", STR), ("Link (ad settings)", STR),
    ("Amount spent (USD)", FLOAT), ("Impressions", INT), ("Frequency", FLOAT),
    ("Reach", INT), ("Clicks (all)", INT), ("ThruPlays", INT),
    ("3-second video plays", INT), ("Registrations Completed", INT),
    ("Purchases", INT), ("Purchases conversion value", FLOAT), ("Video plays", INT),
]
_PODL_SCHEMA = [
    ("Source", STR), ("Day", DATE), ("Campaign name", STR), ("Ad Set Name", STR),
    ("Ad name", STR), ("Gender", STR), ("Age", STR), ("Website URL", STR),
    ("Amount spent (USD)", FLOAT), ("Impressions", INT), ("Frequency", FLOAT),
    ("Reach", INT), ("Unique outbound clicks", INT), ("Link clicks", INT),
    ("Video plays", INT), ("Video plays at 25%", INT), ("Video plays at 50%", INT),
    ("Video plays at 75%", INT), ("Video plays at 100%", INT), ("Adds to cart", INT),
    ("Checkouts Initiated", INT), ("Purchases", INT),
    ("Purchases conversion value", FLOAT),
]
_LIKE_EAT_SCHEMA = [
    ("Source", STR), ("일", DATE), ("캠페인 이름", STR), ("광고 세트 이름", STR),
    ("광고 이름", STR), ("성", STR), ("연령", STR), ("웹사이트 URL", STR),
    ("지출 금액 (KRW)", FLOAT), ("노출", INT), ("빈도", FLOAT), ("도달", INT),
    ("링크 클릭", INT), ("장바구니 담기", INT), ("구매", INT), ("구매 전환값", FLOAT),
    ("동영상 25% 재생", INT), ("동영상 50% 재생", INT), ("동영상 75% 재생", INT),
    ("동영상 95% 재생", INT), ("동영상 100% 재생", INT), ("동영상 재생", INT),
    ("ThruPlay", INT),
]


def _same(*names: str) -> list[tuple[str, str]]:
    return [(n, n) for n in names]


# source tag -> [(raw header as exported, standard column or None)]
_APSL_META = _same("Day", "Account name", "Campaign name", "Ad set name", "Ad name") + [
    ("Amount spent (USD)", "Amount spent (USD)"),
] + _same(
    "Impressions", "Reach", "Frequency", "Link clicks", "Registrations completed",
    "Adds to cart", "Checkouts initiated", "Purchases", "Purchases conversion value",
)
_APSL_TIKTOK = [
    ("By Day", "Day"), ("Account name", "Account name"),
    ("Campaign name", "Campaign name"), ("Ad group name", "Ad set name"),
    ("Ad name", "Ad name"), ("Cost", "Amount spent (USD)"),
    ("Impressions", "Impressions"), ("Reach", "Reach"), ("Frequency", "Frequency"),
    ("Clicks (destination)", "Link clicks"), ("Adds to cart (website)", "Adds to cart"),
    ("Checkouts initiated (website)", "Checkouts initiated"),
    ("Purchases (website)", "Purchases"),
    ("Purchase value (website)", "Purchases conversion value"),
]
_APSL_X = [
    ("Time period", "Day"), ("Funding source name", "Account name"),
    ("Campaign name", "Campaign name"), ("Ad group name", "Ad set name"),
    ("Spend", "Amount spent (USD)"), ("Impressions", "Impressions"),
    ("Link clicks", "Link clicks"), ("Leads", "Registrations completed"),
    ("Cart additions", "Adds to cart"), ("Checkouts initiated", "Checkouts initiated"),
    ("Purchases", "Purchases"), ("Purchases - sale amount", "Purchases conversion value"),
    ("Average frequency", None),
]
_MANABOO_META = _same(
    "Day", "Campaign name", "Ad Set Name", "Ad name", "Gender", "Age",
    "Link (ad settings)", "Amount spent (USD)", "Impressions", "Frequency", "Reach",
    "Clicks (all)", "ThruPlays", "3-second video plays", "Registrations Completed",
    "Purchases", "Purchases conversion value", "Video plays",
)
_MANABOO_X = [
    ("Time period", "Day"), ("Objective", None), ("Campaign name", "Campaign name"),
    ("Spend", "Amount spent (USD)"), ("Impressions", "Impressions"),
    ("Average frequency", "Frequency"), ("Total audience reach", "Reach"),
    ("Clicks", "Clicks (all)"), ("Video completions", "ThruPlays"),
    ("3s/100% video views", "3-second video plays"),
    ("Leads", "Registrations Completed"), ("Purchases", "Purchases"),
    ("Purchases - sale amount", "Purchases conversion value"),
    ("Video views", "Video plays"),
]
_PODL_META = _same(
    "Day", "Campaign name", "Ad Set Name", "Ad name", "Gender", "Age",
    "Amount spent (USD)", "Impressions", "Frequency", "Reach",
    "Unique outbound clicks", "Link clicks", "Video plays", "Video plays at 25%",
    "Video plays at 50%", "Video plays at 75%", "Video plays at 100%", "Adds to cart",
    "Checkouts Initiated", "Purchases", "Purchases conversion value",
)
_PODL_TIKTOK = [
    ("By Day", "Day"), ("Campaign name", "Campaign name"),
    ("Ad group name", "Ad Set Name"), ("Ad name", "Ad name"),
    ("Cost", "Amount spent (USD)"), ("Impressions", "Impressions"),
    ("Frequency", "Frequency"), ("Reach", "Reach"),
    ("Clicks (destination)", "Link clicks"), ("Video views", "Video plays"),
    ("Video views at 25%", "Video plays at 25%"),
    ("Video views at 50%", "Video plays at 50%"),
    ("Video views at 75%", "Video plays at 75%"),
    ("Video views at 100%", "Video plays at 100%"),
    ("Adds to cart (website)", "Adds to cart"),
    ("Checkouts initiated (website)", "Checkouts Initiated"),
    ("Purchases (website)", "Purchases"),
    ("Purchase value (website)", "Purchases conversion value"),
]
_LIKE_EAT_META = _same("일", "캠페인 이름", "광고 세트 이름", "광고 이름") + [
    ("웹사이트 URL", "웹사이트 URL"), ("지출 금액 (KRW)", "지출 금액 (KRW)"),
] + _same("노출", "빈도", "도달", "링크 클릭") + [
    ("공유 항목이 포함된 장바구니에 담기", "장바구니 담기"),
    ("공유 항목이 포함된 구매", "구매"),
    ("공유 항목의 구매 전환값", "구매 전환값"),
] + _same(
    "동영상 25% 재생", "동영상 50% 재생", "동영상 75% 재생", "동영상 95% 재생",
    "동영상 100% 재생", "동영상 재생",
) + [("THRUPLAY", "ThruPlay")]
_LIKE_EAT_GFA = [
    ("기간", "일"), ("연령 및 성별", None), ("애셋 그룹 이름", "광고 세트 이름"),
    ("캠페인 이름", "캠페인 이름"), ("총 비용", "지출 금액 (KRW)"), ("노출", "노출"),
    ("클릭", "링크 클릭"), ("구매완료수", "구매"), ("장바구니 담기수", "장바구니 담기"),
    ("구매완료 전환 매출액", "구매 전환값"),
]

PIPELINES = {
    "apsl": (_APSL_SCHEMA, {"Meta": _APSL_META, "TikTok": _APSL_TIKTOK,
                            "X (Twitter)": _APSL_X}),
    "manaboo": (_MANABOO_SCHEMA, {"Meta": _MANABOO_META, "X (Twitter)": _MANABOO_X}),
    "podl": (_PODL_SCHEMA, {"Meta": _PODL_META, "TikTok": _PODL_TIKTOK}),
    "like_eat": (_LIKE_EAT_SCHEMA, {"Meta_naver": _LIKE_EAT_META,
                                    "Naver_GFA": _LIKE_EAT_GFA}),
}
SPEND = {"apsl": "Amount spent (USD)", "manaboo": "Amount spent (USD)",
         "podl": "Amount spent (USD)", "like_eat": "지출 금액 (KRW)"}

# Naver GFA age/gender cells -> (연령, 성) after clean_naver_gfa_age_gender.
_AGE_GENDER = {
    "25~34세 남성": ("25-34", "male"),
    "35–44세 여자": ("35-44", "female"),
    "50세 이상 여성": ("50+", "female"),
    "연령모름 성별모름": ("unknown", "unknown"),
    "  18~24세   남자 ": ("18-24", "male"),
}


class DayInputs:
    """One op's input directory and the rows its export must hold."""

    def __init__(self, pipeline: str, raw_dir: Path, days: tuple[dt.date, dt.date],
                 rows: list[tuple], n_input_rows: int):
        self.pipeline = pipeline
        self.raw_dir = raw_dir
        self.days = days
        self.rows = rows
        self.n_input_rows = n_input_rows

    @property
    def filename(self) -> str:
        return f"{self.pipeline}_{self.days[0]}–{self.days[1]}.csv"


def spend_totals(pipeline: str, rows: list[tuple]) -> dict[str, Decimal]:
    """Per-source sum of the pipeline's spend column, in exact decimals."""
    schema = PIPELINES[pipeline][0]
    names = [n for n, _ in schema]
    s, v = names.index("Source"), names.index(SPEND[pipeline])
    out: dict[str, Decimal] = {}
    for r in rows:
        if r[v] is not None:
            out[r[s]] = out.get(r[s], Decimal(0)) + Decimal(repr(r[v]))
    return out


def _value(rng: random.Random, kind: str, std: str | None, raw: str) -> tuple[str, object]:
    """(cell text, typed value) for one generated cell."""
    if kind == INT:
        v = rng.randrange(0, 50_000)
        return str(v), v
    if kind == FLOAT:
        cents = rng.randrange(0, 2_000_000)
        text = f"{cents // 100}.{cents % 100:02d}"
        return text, float(text)
    word = (std or raw).split()[0].lower()
    text = f"{word}_{rng.randrange(40)}"
    if raw == "Ad name" and rng.random() < 0.3:
        text += ".mp4"
    return text, text


def _source_rows(rng, source, columns, kinds, days, n):
    """Raw CSV rows for one source file and the standardized rows they map to."""
    header = [raw for raw, _ in columns]
    raw_rows: list[list[str]] = []
    std_rows: list[dict] = []
    for i in range(n):
        day = days[i % 2]
        cells, std = [], {"Source": source}
        for raw, target in columns:
            if target is not None and kinds[target] == DATE:
                text = (f"{day.year}.{day.month:02d}.{day.day:02d}."
                        if source == "Naver_GFA" else day.isoformat())
                cells.append(text)
                std[target] = day
            elif raw == "Average frequency":
                if i % 7 == 0:
                    text, val = "-", 0.0
                else:
                    text, val = _value(rng, FLOAT, target, raw)
                cells.append(text)
                if target is not None:
                    std[target] = val
            elif raw == "연령 및 성별":
                cell = list(_AGE_GENDER)[i % len(_AGE_GENDER)]
                cells.append(cell)
                std["연령"], std["성"] = _AGE_GENDER[cell]
            else:
                kind = kinds[target] if target is not None else STR
                text, val = _value(rng, kind, target, raw)
                cells.append(text)
                if target is not None:
                    std[target] = val
        raw_rows.append(cells)
        std_rows.append(std)
    if source == "TikTok":
        # a summary row (removed by the cleaner) and an empty-date row (kept)
        date_at = header.index("By Day")
        total = list(raw_rows[0])
        total[date_at] = f"Total of {len(days)} days"
        raw_rows.insert(n // 2, total)
        blank = list(raw_rows[1])
        blank[date_at] = ""
        raw_rows.append(blank)
        std_rows.append(dict(std_rows[1], **{"Day": None}))
    return header, raw_rows, std_rows


def make_day(rng: random.Random, pipeline: str, day: dt.date, raw_dir: Path) -> DayInputs:
    """Write one day's exports for ``pipeline`` under ``raw_dir``."""
    schema, sources = PIPELINES[pipeline]
    kinds = dict(schema)
    days = (day - dt.timedelta(days=1), day)
    raw_dir.mkdir(parents=True)
    expected: list[tuple] = []
    n_input = 0
    for k, (source, columns) in enumerate(sources.items()):
        header, raw_rows, std_rows = _source_rows(
            rng, source, columns, kinds, days, ROWS_PER_FILE
        )
        n_input += len(raw_rows)
        with open(raw_dir / f"{k}_{source.split()[0].lower()}.csv", "w",
                  newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(raw_rows)
        expected.extend(tuple(r.get(name) for name, _ in schema) for r in std_rows)
    return DayInputs(pipeline, raw_dir, days, expected, n_input)


def parse_export(pipeline: str, path: Path) -> list[tuple]:
    """Rows of an exported BOM CSV, typed by the pipeline's standard schema.
    Raises ``ValueError`` on a missing BOM or a wrong header."""
    schema = PIPELINES[pipeline][0]
    with open(path, "rb") as f:
        if f.read(3) != b"\xef\xbb\xbf":
            raise ValueError(f"{path.name}: no UTF-8 BOM")
    with open(path, newline="", encoding="utf-8-sig") as f:
        reader = csv.reader(f)
        header = next(reader)
        if header != [n for n, _ in schema]:
            raise ValueError(f"{path.name}: header {header}")
        rows = []
        for cells in reader:
            row = []
            for text, (_, kind) in zip(cells, schema, strict=True):
                if text == "":
                    row.append(None)
                elif kind == DATE:
                    row.append(dt.date.fromisoformat(text))
                elif kind == INT:
                    as_float = float(text)
                    if as_float != int(as_float):
                        raise ValueError(f"{path.name}: non-integer {text!r}")
                    row.append(int(as_float))
                elif kind == FLOAT:
                    row.append(float(text))
                else:
                    row.append(text)
            rows.append(tuple(row))
    return rows

"""Seeded raw flu feeds for the ``etl_load`` workload.

Writes the three landing files the pipeline reads (RHINO, census,
FluView) with the reference's raw headers, including the trailing space
in ``1-Week Percent ``, and derives from the same seed how many rows each
warehouse table must gain on the first load and on the refresh.

RHINO grain: seasons x 52 weeks x (9 ACH regions + ``Statewide`` +
``Unassigned ACH Region``) x 3 illnesses x 2 care types x 6 demographic
strata. About 5% of percents are blank and 2% are whitespace. The refresh
feed is the same history plus one newly landed week.

The ACH map below is the reference's lookup (Spokane sits in two
regions). It is repeated here on purpose: the expected counts are an
independent oracle, not a re-run of the program's own constants.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from dataclasses import dataclass

RHINO_COLS = [
    "row_id", "Season", "Week Start", "Week End", "Week", "Location",
    "Respiratory Illness Category", "Care Type", "Demographic Category",
    "1-Week Percent ",
]
CENSUS_COLS = ["County Name", "Population Density 2020"]
FLUVIEW_COLS = ["row_id", "region", "epiweek", "wili", "num_ili", "num_patients"]

ACH_TO_COUNTIES = {
    "Better Health Together": ["Spokane", "Stevens", "Pend Oreille", "Ferry"],
    "Cascade Pacific Action Alliance": ["Thurston", "Mason", "Grays Harbor", "Pacific", "Lewis"],
    "Elevate Health": ["Yakima", "Kittitas"],
    "Greater Health Now": ["Spokane"],
    "Healthier Here": ["King"],
    "North Sound": ["Whatcom", "Skagit", "Snohomish", "San Juan", "Island"],
    "Olympic Community of Health": ["Clallam", "Jefferson", "Kitsap"],
    "Southwest Washington": ["Clark", "Skamania", "Klickitat", "Cowlitz", "Wahkiakum"],
    "Thriving Together NCW": ["Chelan", "Douglas", "Grant", "Okanogan"],
}
FILTERED_LOCATIONS = ("Statewide", "Unassigned ACH Region")
WA_COUNTIES = [
    "Adams", "Asotin", "Benton", "Chelan", "Clallam", "Clark", "Columbia", "Cowlitz",
    "Douglas", "Ferry", "Franklin", "Garfield", "Grant", "Grays Harbor", "Island",
    "Jefferson", "King", "Kitsap", "Kittitas", "Klickitat", "Lewis", "Lincoln", "Mason",
    "Okanogan", "Pacific", "Pend Oreille", "Pierce", "San Juan", "Skagit", "Skamania",
    "Snohomish", "Spokane", "Stevens", "Thurston", "Wahkiakum", "Walla Walla", "Whatcom",
    "Whitman", "Yakima",
]
ILLNESSES = ("Flu", "COVID-19", "RSV")
CARE_TYPES = ("Hospitalizations", "Emergency Visits")
DEMOGRAPHICS = ("Overall", "Age 0-4", "Age 5-17", "Age 18-49", "Age 50-64", "Age 65+")
WEEKS_PER_SEASON = 52
FIRST_WEEK_END = dt.date(2004, 10, 9)
TABLES = ("county_region", "temporal", "illness", "healthcare", "historics")


@dataclass(frozen=True)
class Week:
    season: str
    start: dt.date
    end: dt.date
    number: int

    @property
    def epiweek(self) -> int:
        """Year of the week end + week number, as the pipeline derives it."""
        return self.end.year * 100 + self.number


def week(index: int) -> Week:
    end = FIRST_WEEK_END + dt.timedelta(days=7 * index)
    year = FIRST_WEEK_END.year + index // WEEKS_PER_SEASON
    number = (end.timetuple().tm_yday - 1) // 7 + 1
    return Week(f"{year}-{year + 1}", end - dt.timedelta(days=6), end, number)


@dataclass(frozen=True)
class Feeds:
    """One landed set of feeds: file per feed, RHINO rows, total bytes."""

    landing: dict[str, str]
    rhino_rows: int
    input_bytes: int


def _percent(rng: random.Random) -> str:
    u = rng.random()
    if u < 0.05:
        return ""
    if u < 0.07:
        return "   "
    return f"{rng.uniform(0.0, 40.0):.1f}"


def _rhino_rows(weeks: list[Week], rng: random.Random, first_row_id: int):
    locations = list(ACH_TO_COUNTIES) + list(FILTERED_LOCATIONS)
    row_id = first_row_id
    for w in weeks:
        start, end = w.start.isoformat(), w.end.isoformat()
        for loc in locations:
            for ill in ILLNESSES:
                for care in CARE_TYPES:
                    for demo in DEMOGRAPHICS:
                        yield (row_id, w.season, start, end, w.number, loc,
                               ill, care, demo, _percent(rng))
                        row_id += 1


class FeedGenerator:
    """Deterministic feeds for one seed: ``history`` is the first load,
    ``refresh`` the same history plus the next week."""

    def __init__(self, seed: int, seasons: int = 20):
        self.seed = seed
        self.weeks = [week(i) for i in range(seasons * WEEKS_PER_SEASON)]
        self.new_week = week(len(self.weeks))
        rng = random.Random(f"census-{seed}")
        self.null_density_county = rng.choice(WA_COUNTIES)
        self.census = [
            (c, None if c == self.null_density_county else round(rng.uniform(1.0, 1000.0), 1))
            for c in WA_COUNTIES
        ]

    def _fluview(self, weeks: list[Week]) -> list[tuple]:
        rng = random.Random(f"fluview-{self.seed}")
        return [
            (i, "wa", w.epiweek, round(rng.uniform(0.5, 8.0), 2),
             rng.randint(50, 950), rng.randint(1000, 10000))
            for i, w in enumerate(weeks)
        ]

    def write(self, landing_dir: str, refresh: bool) -> Feeds:
        """Land the history (``refresh=False``) or history + new week."""
        os.makedirs(landing_dir, exist_ok=True)
        weeks = self.weeks + ([self.new_week] if refresh else [])
        history_rng = random.Random(f"rhino-{self.seed}")
        rhino = list(_rhino_rows(self.weeks, history_rng, 0))
        if refresh:
            new_rng = random.Random(f"rhino-new-{self.seed}")
            rhino.extend(_rhino_rows([self.new_week], new_rng, len(rhino)))
        feeds = {
            "rhino": ("rhino.csv", RHINO_COLS, rhino),
            "census": ("census.csv", CENSUS_COLS, self.census),
            "fluview": ("fluview.csv", FLUVIEW_COLS, self._fluview(weeks)),
        }
        landing, total = {}, 0
        for name, (filename, cols, rows) in feeds.items():
            path = os.path.join(landing_dir, filename)
            with open(path, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(cols)
                w.writerows(rows)
            landing[name] = path
            total += os.path.getsize(path)
        return Feeds(landing, len(rhino), total)

    def expected_appends(self, refresh: bool) -> dict[str, int]:
        """Rows each table gains: the first load into an empty warehouse,
        or the refresh on top of it (only the new week is new)."""
        mapped = {c for counties in ACH_TO_COUNTIES.values() for c in counties}
        facts_per_week = len(mapped) * len(ILLNESSES) * len(CARE_TYPES)
        history_years = {w.end.year for w in self.weeks}
        if not refresh:
            return {
                "county_region": len(WA_COUNTIES),
                "temporal": len(self.weeks),
                "illness": len(self.weeks) * facts_per_week,
                "healthcare": len(WA_COUNTIES) - 1,
                "historics": len(history_years),
            }
        return {
            "county_region": 0,
            "temporal": 1,
            "illness": facts_per_week,
            "healthcare": 0,
            "historics": int(self.new_week.end.year not in history_years),
        }

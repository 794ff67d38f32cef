"""Seeded Kickstarter CSV shaped like the reference's golden input.

The reference run loaded a 378,661-row file with 15 columns (one named
``usd pledged``, with a space), 4 null names, 6 states, 170
(main, sub) category pairs and 3,169 distinct launch dates. The load
writes one warehouse file per (launch date, write task), so the date
spread, not the row count, sets the load's cost. :func:`generate`
draws every date of the spread at any row count; it defaults to the
golden size and spread, and the benchmark passes a smaller one.

Money is drawn in whole cents and durations in whole seconds, so the
generator's sums are exact integers the benchmark can compare with the
warehouse's bit for bit.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

GOLDEN_ROWS = 378_661
N_NULL_NAMES = 4
N_DATES = 3_169
FIRST_DATE = dt.date(2009, 4, 21)

#: State mix of the reference file (failed, successful, canceled, ...).
STATES = ["failed", "successful", "canceled", "undefined", "live", "suspended"]
STATE_P = [0.522, 0.354, 0.102, 0.0094, 0.0074, 0.0052]

MAIN_CATEGORIES = [
    "Art", "Comics", "Crafts", "Dance", "Design", "Fashion", "Film & Video",
    "Food", "Games", "Journalism", "Music", "Photography", "Publishing",
    "Technology", "Theater",
]
#: Sub-category names are shared across mains, as in the real file, so
#: 170 (main, sub) pairs come from fewer distinct sub names.
SUB_NAMES = [f"Sub{i:03d}" for i in range(160)]
N_CATEGORY_PAIRS = 170

CURRENCIES = ["USD", "GBP", "EUR", "CAD", "AUD", "NOK", "MXN", "SEK", "NZD", "CHF", "DKK", "HKD", "SGD", "JPY"]
COUNTRIES = ["US", "GB", "CA", "AU", "DE", "FR", "IT", "NL", "ES", "SE", "MX", "NZ", "DK", "IE", "CH", "NO"]
WORDS = ["the", "project", "album", "film", "game", "book", "art", "new", "debut", "tour", "card", "city", "story", "light", "music"]

COLUMNS = [
    "ID", "name", "category", "main_category", "currency", "deadline", "goal",
    "launched", "pledged", "state", "backers", "country", "usd pledged",
    "usd_pledged_real", "usd_goal_real",
]


@dataclass
class KickstarterInput:
    """The generated frame and the exact figures the warehouse must hold."""

    frame: pd.DataFrame
    #: Per kept row (non-null name): state, (main, sub), launch date key,
    #: backers, cents and seconds — the ground truth for the checks.
    kept: pd.DataFrame


def _category_pairs(rng: np.random.Generator) -> list[tuple[str, str]]:
    # Every main gets at least one sub; the rest are spread by the seed.
    counts = np.ones(len(MAIN_CATEGORIES), dtype=int)
    extra = rng.multinomial(N_CATEGORY_PAIRS - len(MAIN_CATEGORIES), [1 / len(MAIN_CATEGORIES)] * len(MAIN_CATEGORIES))
    counts += extra
    pairs = []
    for main, k in zip(MAIN_CATEGORIES, counts):
        for sub in rng.choice(SUB_NAMES, size=k, replace=False):
            pairs.append((main, str(sub)))
    return pairs


def generate(seed: int, rows: int = GOLDEN_ROWS, dates: int = N_DATES) -> KickstarterInput:
    """A seeded golden-shaped input of ``rows`` rows over ``dates`` launch dates."""
    if rows < dates + N_NULL_NAMES + N_CATEGORY_PAIRS:
        raise ValueError(f"rows must cover every date and category pair, got {rows}")
    rng = np.random.default_rng(seed)
    pairs = _category_pairs(rng)

    # The first ``dates`` rows take one date each, so every date survives
    # the null-name drop; the rest are uniform over the same span.
    day = np.concatenate([np.arange(dates), rng.integers(0, dates, rows - dates)])
    cat = np.concatenate([np.arange(len(pairs)), rng.integers(0, len(pairs), rows - len(pairs))])
    state = np.concatenate([np.arange(len(STATES)), rng.choice(len(STATES), rows - len(STATES), p=STATE_P)])
    perm = rng.permutation(rows)
    day, cat, state = day[perm], cat[perm], state[perm]

    launch_s = rng.integers(0, 86_400, rows)
    duration_s = rng.integers(86_400, 60 * 86_400, rows)
    launched = pd.to_datetime(FIRST_DATE) + pd.to_timedelta(day, unit="D") + pd.to_timedelta(launch_s, unit="s")
    deadline_day = (launched + pd.to_timedelta(duration_s, unit="s")).normalize()
    duration_s = ((deadline_day - launched) // pd.Timedelta(seconds=1)).to_numpy()

    goal_cents = rng.integers(100, 5_000_000, rows) * 100
    pledged_cents = (goal_cents * rng.gamma(0.6, 1.0, rows)).astype(np.int64)
    backers = (pledged_cents // rng.integers(2_000, 20_000, rows)).astype(np.int64)

    ids = 1_000_000 + rng.permutation(rows).astype(np.int64) * 7 + rng.integers(0, 7, rows)
    words = np.array(WORDS)
    names = pd.Series(
        [f"{a} {b} {i}" for a, b, i in zip(words[rng.integers(0, len(WORDS), rows)], words[rng.integers(0, len(WORDS), rows)], ids)],
        dtype=object,
    )
    # Null names go on rows whose date, pair and state occur elsewhere.
    null_at = rng.choice(np.nonzero(perm >= dates + len(pairs))[0], N_NULL_NAMES, replace=False)
    names[null_at] = None

    usd_pledged = pd.Series(pledged_cents / 100.0)
    usd_pledged[rng.choice(rows, rows // 100, replace=False)] = np.nan
    cat_main = np.array([p[0] for p in pairs])[cat]
    cat_sub = np.array([p[1] for p in pairs])[cat]
    frame = pd.DataFrame(
        {
            "ID": ids,
            "name": names,
            "category": cat_sub,
            "main_category": cat_main,
            "currency": np.array(CURRENCIES)[rng.integers(0, len(CURRENCIES), rows)],
            "deadline": deadline_day.strftime("%Y-%m-%d"),
            "goal": goal_cents / 100.0,
            "launched": launched.strftime("%Y-%m-%d %H:%M:%S"),
            "pledged": pledged_cents / 100.0,
            "state": np.array(STATES)[state],
            "backers": backers,
            "country": np.array(COUNTRIES)[rng.integers(0, len(COUNTRIES), rows)],
            "usd pledged": usd_pledged,
            "usd_pledged_real": pledged_cents / 100.0,
            "usd_goal_real": goal_cents / 100.0,
        },
        columns=COLUMNS,
    )
    keep = names.notna().to_numpy()
    kept = pd.DataFrame(
        {
            "state": frame["state"].to_numpy()[keep],
            "main": cat_main[keep],
            "sub": cat_sub[keep],
            "date_key": launched[keep].strftime("%Y%m%d").astype(int),
            "backers": backers[keep],
            "pledged_cents": pledged_cents[keep],
            "goal_cents": goal_cents[keep],
            "duration_s": duration_s[keep],
        }
    )
    return KickstarterInput(frame, kept)


def write_csv(data: KickstarterInput, path: str) -> int:
    """Write the CSV the pipeline reads; returns its size in bytes."""
    data.frame.to_csv(path, index=False)
    return os.path.getsize(path)


def check_invariants(data: KickstarterInput, rows: int = GOLDEN_ROWS, dates: int = N_DATES) -> list[str]:
    """The golden invariants; returns the ones that do not hold."""
    f, bad = data.frame, []
    if len(f) != rows or list(f.columns) != COLUMNS:
        bad.append(f"shape {f.shape} / columns {list(f.columns)}")
    if int(f["name"].isna().sum()) != N_NULL_NAMES:
        bad.append(f"null names {int(f['name'].isna().sum())} != {N_NULL_NAMES}")
    if sorted(f["state"].unique()) != sorted(STATES):
        bad.append(f"states {sorted(f['state'].unique())}")
    if len(f.groupby(["main_category", "category"]).size()) != N_CATEGORY_PAIRS:
        bad.append("category pairs != 170")
    if data.kept["date_key"].nunique() != dates or f["launched"].str[:10].nunique() != dates:
        bad.append(f"launch dates {data.kept['date_key'].nunique()} != {dates}")
    if not f["ID"].is_unique:
        bad.append("ID not unique")
    if len(data.kept) != rows - N_NULL_NAMES:
        bad.append("kept rows != rows - null names")
    return bad

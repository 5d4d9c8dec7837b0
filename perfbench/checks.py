"""Oracle comparisons, kept free of Spark so the benchmark's own tests
can feed them perturbed results."""

from __future__ import annotations

import pandas as pd


def sim_fetch_log(sim) -> list[tuple]:
    return [
        (r.fetch_seq, r.round, r.url, r.url_hash, r.host, r.parent_url, r.status, r.n_images)
        for r in sim.fetch_log
    ]


def crawl_mismatches(sim, fetch_log, seen, images) -> list[str]:
    """Compare one engine crawl with ``simulate_crawl`` on the same world
    and round cap: the fetch log in ``fetch_seq`` order, the URL-seen
    set of ``(url_hash, url)`` and the extracted image records."""
    problems = []
    want_log = sim_fetch_log(sim)
    got_log = sorted(fetch_log)
    if got_log != want_log:
        first = next(
            (i for i, (a, b) in enumerate(zip(got_log, want_log)) if a != b),
            min(len(got_log), len(want_log)),
        )
        problems.append(
            f"fetch log: {len(got_log)} rows vs {len(want_log)} expected, "
            f"first difference at fetch_seq {first}"
        )
    want_seen = set(sim.seen.items())
    if set(seen) != want_seen:
        problems.append(
            f"seen set: {len(set(seen) - want_seen)} unexpected, "
            f"{len(want_seen - set(seen))} missing"
        )
    if sorted(images) != sorted(sim.images):
        problems.append(f"images: {len(images)} records vs {len(sim.images)} expected")
    return problems


def norm_rows(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, column-order-insensitive value form, the same
    normalisation as ``tests/test_queries_oracle.py`` (exact ``str``
    equality of every value; nulls as ``None``)."""
    df = df[sorted(df.columns)]
    df = df.astype(object).where(pd.notna(df), None)
    return sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))


def catalog_mismatch(name: str, got: pd.DataFrame, want_cols, want_rows) -> str | None:
    """``want_rows`` is ``norm_rows`` of the DuckDB oracle result."""
    if sorted(got.columns) != sorted(want_cols):
        return f"{name}: columns {sorted(got.columns)} vs {sorted(want_cols)}"
    rows = norm_rows(got)
    if len(rows) != len(want_rows):
        return f"{name}: {len(rows)} rows vs {len(want_rows)} expected"
    if rows != [tuple(r) for r in want_rows]:
        return f"{name}: values differ from the oracle"
    return None

"""Reference computations the harness checks the engine against, and the
store-layout counters it reads from the filesystem after every commit.

Prices: the expected rows are regenerated in pandas from the same
seeded FakePseEdge the engine fetches from; the stored table is read
back with pyarrow straight from the current version's files, so neither
side of the comparison goes through the engine's read path.
"""

from __future__ import annotations

import os
from datetime import date

import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

OHLC = ("open", "high", "low", "close")


def cents(x: float) -> int:
    return int(round(x * 100))


def expected_prices(edge, start: date, end: date) -> pd.DataFrame:
    """Every row the connector serves for [start, end], all symbols."""
    frames = [edge.get_stock_data(s, start, end) for s in edge.symbols]
    return pd.concat(frames, ignore_index=True)


def table_digest(pdf: pd.DataFrame) -> dict[str, tuple[int, int]]:
    """{date: (rows, integer-cents checksum over OHLC)}."""
    day = pdf["date"].map(lambda d: str(d)[:10])
    total = sum(pdf[c].map(cents) for c in OHLC)
    g = pd.DataFrame({"day": day, "total": total}).groupby("day")["total"]
    return {d: (int(n), int(s)) for d, n, s in zip(g.size().index, g.size(), g.sum())}


def latest_by_symbol(pdf: pd.DataFrame, through: date) -> dict[str, tuple[str, int]]:
    """{symbol: (latest date <= through, close in cents)}."""
    rows = pdf[pdf["date"] <= through].sort_values("date").groupby("symbol").tail(1)
    return {
        r.symbol: (str(r.date)[:10], cents(r.close)) for r in rows.itertuples(index=False)
    }


def read_current(table_path: str) -> pd.DataFrame:
    """The table's current version, read directly from its files."""
    with open(os.path.join(table_path, "_CURRENT")) as f:
        vdir = os.path.join(table_path, "_versions", f.read().strip())
    return pads.dataset(vdir, format="parquet", partitioning="hive").to_table().to_pandas()


def check_table(table_path: str, expected: pd.DataFrame, through: date) -> list[str]:
    want = table_digest(expected[expected["date"] <= through])
    got = table_digest(read_current(table_path))
    if got == want:
        return []
    bad = sorted(d for d in set(got) | set(want) if got.get(d) != want.get(d))
    return [f"{len(bad)} dates differ from the reference; first: {bad[:3]}"]


def check_latest(rows, expected: pd.DataFrame, through: date, perturb: bool) -> list[str]:
    """Compare a collected latest_price read with the reference."""
    want = latest_by_symbol(expected, through)
    if perturb:  # smoke test: a wrong expectation must count as a failure
        sym = min(want)
        want[sym] = (want[sym][0], want[sym][1] + 1)
    got = {r["symbol"]: (str(r["date"])[:10], cents(r["close"])) for r in rows}
    problems = []
    if len(rows) != len(want):
        problems.append(f"latest_price returned {len(rows)} rows, want {len(want)}")
    bad = sorted(s for s in want if got.get(s) != want[s])
    if bad:
        problems.append(f"{len(bad)} symbols differ; first: {bad[:3]}")
    return problems


def store_layout(root: str, table: str) -> dict[str, float]:
    """Layout of `table`'s current version plus whole-store totals.

    A file with one link was written by the commit that made the
    current version; a file with more links is carried from an older
    version. Store bytes count each inode once, so carried partitions
    cost nothing; space_amp divides them by the live versions' bytes.
    """
    tpath = os.path.join(root, table)
    with open(os.path.join(tpath, "_CURRENT")) as f:
        cur = f.read().strip()
    vdir = os.path.join(tpath, "_versions", cur)
    written = linked = bytes_written = rows_written = files = live = 0
    rewritten: set[str] = set()
    carried: set[str] = set()
    for dirpath, _, names in os.walk(vdir):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            files += 1
            live += st.st_size
            part = os.path.relpath(dirpath, vdir)
            if st.st_nlink == 1:
                written += 1
                bytes_written += st.st_size
                rows_written += pq.read_metadata(path).num_rows
                rewritten.add(part)
            else:
                linked += 1
                carried.add(part)
    live_all = 0
    seen: set[int] = set()
    on_disk = 0
    for t in os.listdir(root):
        cur_file = os.path.join(root, t, "_CURRENT")
        if not os.path.exists(cur_file):
            continue
        with open(cur_file) as f:
            tcur = os.path.join(root, t, "_versions", f.read().strip())
        for dirpath, _, names in os.walk(os.path.join(root, t)):
            for name in names:
                st = os.stat(os.path.join(dirpath, name))
                if dirpath == tcur or dirpath.startswith(tcur + os.sep):
                    live_all += st.st_size
                if st.st_ino not in seen:
                    seen.add(st.st_ino)
                    on_disk += st.st_size
    return {
        "bytes_written": bytes_written,
        "rows_written": rows_written,
        "files_written": written,
        "files_linked": linked,
        "partitions_rewritten": len(rewritten),
        "partitions_carried": len(carried - rewritten),
        "files_per_version": files,
        "mean_file_bytes": live / files if files else 0.0,
        "versions_retained": len(
            [v for v in os.listdir(os.path.join(tpath, "_versions")) if v.startswith("v")]
        ),
        "bytes_on_disk": on_disk,
        "space_amp": on_disk / live_all if live_all else 0.0,
    }

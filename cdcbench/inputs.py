"""Seeded inputs and the reference state they must produce.

The engine only ever sees the files written here. The change logs come from
the engine's own deterministic generator (Zipf-skewed conversations,
duplicate deliveries, out-of-order event time and the mid-log ``metadata``
schema evolution); the expected table state always comes from
``oracle.reduce_changelog``.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd


def make_log(out_dir: str, seed: int, n_convs: int, n_files: int):
    """Write one change log of ``n_files`` parquet files; returns the
    generator's manifest."""
    from mas_scada_bulkingest_spark.sources.changelog_gen import generate_changelog

    return generate_changelog(out_dir, n_convs=n_convs, mean_turns=8, n_files=n_files, seed=seed)


def log_files(log_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(log_dir, "*.parquet")))


def digest_dir(log_dir: str) -> str:
    """Digest of the logical content of every change file, in name order."""
    h = hashlib.sha256()
    for path in log_files(log_dir):
        df = pd.read_parquet(path)
        h.update(os.path.basename(path).encode())
        h.update(",".join(df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def read_changes(paths: list[str]) -> pd.DataFrame:
    frames = [pd.read_parquet(p) for p in paths]
    df = pd.concat(frames, ignore_index=True)
    if "metadata" in df.columns:
        df["metadata"] = df["metadata"].where(df["metadata"].notna(), None)
    return df


def expected_state(changes: pd.DataFrame) -> pd.DataFrame:
    """The oracle's final live state for a change-log frame."""
    from mas_scada_bulkingest_spark.oracle import reduce_changelog

    return reduce_changelog(changes)


def write_state(state: pd.DataFrame, path: str) -> None:
    """Parquet copy of an expected state, the input of ``bootstrap``.
    ``metadata`` stays a string column even when every value is null."""
    state.astype({"metadata": "string"}).to_parquet(path, index=False)


#: columns a result is compared on: the key, the winning version and the
#: per-turn text
GATE_COLUMNS = ["conv_id", "turn_idx", "lsn", "text"]


def mismatch(got: pd.DataFrame, want: pd.DataFrame, columns=GATE_COLUMNS) -> str | None:
    """None when ``got`` equals ``want`` on ``columns`` under
    ``(conv_id, turn_idx)`` order, else a one-line reason."""
    cols = [c for c in columns if c in want.columns and c in got.columns]
    g = got[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    w = want[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for c in cols:
        gv = g[c].astype(object).where(g[c].notna(), None).tolist()
        wv = w[c].astype(object).where(w[c].notna(), None).tolist()
        if gv != wv:
            bad = next(i for i, (a, b) in enumerate(zip(gv, wv)) if a != b)
            return f"column {c} differs at row {bad}: {gv[bad]!r} != {wv[bad]!r}"
    return None

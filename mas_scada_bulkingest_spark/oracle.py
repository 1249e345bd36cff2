"""Single-threaded reference reducer — the oracle for replay-equality tests.

Implements the engine's contract in the most obvious possible way (pandas,
one process): group the change log by ``(conv_id, turn_idx)``, keep the
mutation with the lexicographically largest ``(ts, lsn)``, and drop the key
if that winning mutation is a delete. The engine (distributed, epoch-batched,
partially aggregated, exactly-once MERGE) must produce an identical final table.

This mirrors the verification idea in SURVEY.md §5(b): per-turn text equality
under stable ``(conv_id, turn_idx)`` ordering (BASELINE.json ``input_hint``).
"""

from __future__ import annotations

import glob
import os

import pandas as pd


def reduce_changelog(changes: pd.DataFrame) -> pd.DataFrame:
    """Pure LWW reduction of a change-log DataFrame to final table state.

    Returns columns ``conv_id, turn_idx, role, text, tool, ts, lsn``
    (+ ``metadata`` if present in the input), sorted by (conv_id, turn_idx).
    """
    df = changes.copy()
    if "metadata" not in df.columns:
        df["metadata"] = pd.Series([None] * len(df), dtype=object)
    # exact duplicate deliveries share an lsn; they are identical rows, so
    # keeping any one of them is correct.
    df = df.drop_duplicates(subset=["lsn"], keep="first")
    df = df.sort_values(["ts", "lsn"], kind="stable")
    winner = df.groupby(["conv_id", "turn_idx"], as_index=False).tail(1)
    alive = winner[winner["op"] != "delete"]
    out = alive[["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "metadata"]]
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def reduce_changelog_dir(changes_dir: str) -> pd.DataFrame:
    """Read every ``*.parquet`` under ``changes_dir`` (heterogeneous schemas
    allowed — pre-evolution files lack ``metadata``) and reduce."""
    frames = []
    for path in sorted(glob.glob(os.path.join(changes_dir, "*.parquet"))):
        frames.append(pd.read_parquet(path))
    df = pd.concat(frames, ignore_index=True)  # missing cols become NaN
    if "metadata" in df.columns:
        df["metadata"] = df["metadata"].where(df["metadata"].notna(), None)
    return reduce_changelog(df)

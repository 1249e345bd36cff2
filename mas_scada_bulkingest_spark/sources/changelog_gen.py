"""Deterministic synthetic binlog/WAL change-log generator.

Produces the ``transcript_changes`` fixture of FIXTURES.md §A2: an append-only
stream of ``insert|update|delete`` mutations against ``(conv_id, turn_idx)``
keys, with

* **Zipf-skewed conversation popularity** — hot conversations, so skew
  handling (map-side partial aggregation / AQE) is actually exercised (the reference serializes
  uploads and has no skew story at all, DBConnector.java:219-332);
* **out-of-order event time** — ``ts`` jitters around the lsn order, so
  last-writer-wins must be decided on ``(ts, lsn)`` not arrival order;
* **duplicate deliveries** — a fraction of events is re-appended verbatim
  (same lsn), modeling at-least-once upstream delivery;
* **mid-stream additive schema evolution** — events past a configurable point
  carry a ``metadata`` column that earlier files do not have *in the file
  schema at all* (mirrors the reference's pass-through of newly appearing
  source columns, DBConnector.java:453-455).

Everything is derived from a single integer seed via numpy; re-running with
the same parameters writes byte-identical logical content (file bytes may
differ in parquet metadata, values never do).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z in unix seconds

_WORDS = np.array(
    "system user assistant tool call result plan search read write run test"
    " table query merge batch stream window shuffle join filter agg commit".split()
)


@dataclass
class ChangelogManifest:
    out_dir: str
    n_events: int
    n_base: int
    n_updates: int
    n_deletes: int
    n_dups: int
    n_convs: int
    evolve_at_lsn: int
    files: list[str] = field(default_factory=list)


def _texts(conv: np.ndarray, turn: np.ndarray, lsn: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """Deterministic per-event text: stable id prefix + a few filler words.

    Concatenation runs through pyarrow's vectorized kernels (~8x faster than
    ``np.char``); output is byte-identical to the original np.char chain for
    the same rng state.
    """
    w = _WORDS[rng.integers(0, len(_WORDS), size=(len(lsn), 4))]
    s = lambda a: pc.cast(pa.array(a), pa.string())  # noqa: E731
    out = pc.binary_join_element_wise(
        "c", s(conv.astype(np.int64)),
        " t", s(turn.astype(np.int64)),
        " v", s(lsn.astype(np.int64)),
        " :: ", pa.array(w[:, 0]), " ", pa.array(w[:, 1]),
        " ", pa.array(w[:, 2]), " ", pa.array(w[:, 3]),
        "",
    )
    return np.asarray(out)


def generate_changelog(
    out_dir: str,
    n_convs: int = 200,
    mean_turns: int = 8,
    n_updates: int | None = None,
    delete_frac: float = 0.02,
    dup_frac: float = 0.05,
    evolve_at_frac: float | None = 0.6,
    n_files: int = 8,
    seed: int = 42,
    zipf_a: float = 1.4,
    compression: str = "zstd",
    write_options: dict | None = None,
) -> ChangelogManifest:
    """Write a deterministic change log as parquet files under ``out_dir``.

    Files are named ``changes-00000.parquet`` … in lsn order, so a Spark file
    source consumes them as epoch-shaped micro-batches. Files before the
    evolution point have 8 columns; files after have 9 (``metadata`` added).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # --- base inserts: every (conv, turn) key born exactly once -------------
    turns_per_conv = np.maximum(1, rng.poisson(mean_turns, size=n_convs))
    conv_of_insert = np.repeat(np.arange(n_convs), turns_per_conv)
    turn_of_insert = np.concatenate([np.arange(k) for k in turns_per_conv])
    n_base = len(conv_of_insert)

    if n_updates is None:
        n_updates = n_base * 2

    # --- updates: Zipf-skewed conversation choice (hot conversations) -------
    zipf_raw = rng.zipf(zipf_a, size=n_updates * 2)
    zipf_raw = zipf_raw[zipf_raw <= n_convs][:n_updates]
    while len(zipf_raw) < n_updates:  # top up (zipf tail rejection)
        extra = rng.zipf(zipf_a, size=n_updates)
        zipf_raw = np.concatenate([zipf_raw, extra[extra <= n_convs]])[:n_updates]
    conv_of_update = zipf_raw - 1  # zipf is 1-based; rank 1 = hottest conv id 0
    turn_of_update = (rng.random(n_updates) * turns_per_conv[conv_of_update]).astype(np.int64)

    # --- deletes: uniform over keys ------------------------------------------
    n_deletes = int(n_base * delete_frac)
    del_pick = rng.integers(0, n_base, size=n_deletes)
    conv_of_delete = conv_of_insert[del_pick]
    turn_of_delete = turn_of_insert[del_pick]

    # --- assemble in interleaved lsn order -----------------------------------
    conv = np.concatenate([conv_of_insert, conv_of_update, conv_of_delete])
    turn = np.concatenate([turn_of_insert, turn_of_update, turn_of_delete]).astype(np.int32)
    op = np.concatenate(
        [
            np.full(n_base, "insert"),
            np.full(n_updates, "update"),
            np.full(n_deletes, "delete"),
        ]
    )
    n_real = len(conv)

    # Global random interleave. Both the engine and the oracle apply pure
    # (ts, lsn) last-writer-wins per key, so mutation order relative to the
    # key's insert does not affect the final state — an early "update" simply
    # upserts (standard CDC MERGE behavior).
    perm = rng.permutation(n_real)
    conv, turn, op = conv[perm], turn[perm], op[perm]

    lsn = np.arange(1, n_real + 1, dtype=np.int64)

    # --- event time: loosely increasing with jitter → out-of-order arrivals --
    ts_sec = _EPOCH_2024 + lsn * 2 + rng.integers(-120, 120, size=n_real)
    ts_us = ts_sec.astype("datetime64[s]").astype("datetime64[us]")

    role_pool = np.array(["user", "assistant", "tool", "system"])
    role = role_pool[(conv + turn) % 4]
    tool_pool = np.array(["search", "python", "browser", "sql"])
    tool = np.where(role == "tool", tool_pool[turn % 4], None)
    text = _texts(conv, turn, lsn, rng)
    role = np.where(op == "delete", None, role)
    text = np.where(op == "delete", None, text)
    tool = np.where(op == "delete", None, tool)

    # --- duplicates: re-deliver a sample verbatim (same lsn) -----------------
    n_dups = int(n_real * dup_frac)
    dup_pick = np.sort(rng.integers(0, n_real, size=n_dups))

    evolve_at_lsn = int(n_real * evolve_at_frac) if evolve_at_frac is not None else n_real + 1

    conv_ids = np.asarray(pc.binary_join_element_wise("conv-", pc.cast(pa.array(conv.astype(np.int64)), pa.string()), ""))

    def _table(sl: np.ndarray, with_meta: bool) -> pa.Table:
        cols = {
            "lsn": pa.array(lsn[sl], pa.int64()),
            "op": pa.array(op[sl], pa.string()),
            "conv_id": pa.array(conv_ids[sl], pa.string()),
            "turn_idx": pa.array(turn[sl], pa.int32()),
            "role": pa.array(role[sl], pa.string()),
            "text": pa.array(text[sl], pa.string()),
            "tool": pa.array(tool[sl], pa.string()),
            "ts": pa.array(ts_us[sl], pa.timestamp("us")),
        }
        if with_meta:
            meta = np.where(
                op[sl] == "delete",
                None,
                np.asarray(pc.binary_join_element_wise(
                    '{"rev": ', pc.cast(pa.array(lsn[sl]), pa.string()), "}", ""
                )),
            )
            cols["metadata"] = pa.array(meta, pa.string())
        return pa.table(cols)

    # --- write files in lsn order, duplicates injected into their file -------
    manifest = ChangelogManifest(
        out_dir=out_dir,
        n_events=n_real + n_dups,
        n_base=n_base,
        n_updates=n_updates,
        n_deletes=n_deletes,
        n_dups=n_dups,
        n_convs=n_convs,
        evolve_at_lsn=evolve_at_lsn,
    )
    bounds = np.linspace(0, n_real, n_files + 1).astype(np.int64)
    for i in range(n_files):
        lo, hi = bounds[i], bounds[i + 1]
        idx = np.arange(lo, hi)
        dups_here = dup_pick[(dup_pick >= lo) & (dup_pick < hi)]
        idx = np.sort(np.concatenate([idx, dups_here]))
        if len(idx) == 0:
            continue
        # a file is "evolved" if any event in it is past the evolution point
        with_meta = bool(lsn[idx].max() >= evolve_at_lsn)
        path = os.path.join(out_dir, f"changes-{i:05d}.parquet")
        # zstd default: a scan-side bandwidth/CPU trade — decompression costs
        # more CPU (which scales with cores) for fewer bytes over the memory
        # bus (which does not, on a single box) — measurably better N->4N
        # scan scaling at identical logical content. write_options passes
        # further pyarrow encodings through (compression_level, per-column
        # dictionary/delta choices — A/B'd in tools/bench_scan_stage.py).
        opts = dict(write_options or {})
        pq.write_table(
            _table(idx, with_meta),
            path,
            # write_options may carry its own 'compression' (an encoding
            # variant expressed wholly through the passthrough dict); it
            # overrides the positional arg instead of raising TypeError
            compression=opts.pop("compression", compression),
            **opts,
        )
        manifest.files.append(path)
    return manifest

"""Deterministic synthetic transcript generator (FIXTURES.md §1).

The transcript table is the engine's primary input, the analog of the
reference's per-date observation rasters
(``/root/reference/ECOv003_L2T_STARS/generate_STARS_inputs.py:84-144``):
each row is one observation keyed by (series key, time).

Schema (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Generation is seed-42 deterministic and fully vectorized (NumPy); no
per-row Python in the hot path. Role sequences follow the Markov chain in
FIXTURES.md expressed block-wise so it vectorizes:

    conv  = [system]? + block*      (system with p=0.3)
    block = [user, assistant]       (p=0.8)
          | [user, tool, assistant] (p=0.2)

Adversarial knobs (exercise the tier digest cascade and AQE per
BASELINE.json north_rule):
hot conversations (x1000 turn count for 0.1% of convs — mirrors skewed
scene windows the reference hand-parallelizes,
``process_ECOSTRESS_data_fusion_distributed_bias.jl:351-367``), gappy
conversations (silent spans >= 2 tiers wide — mirrors missing-date all-NaN
slices, fusion jl:163-171), and exact duplicate turns (0.5% — mirrors
``drop_duplicates``, ``VIIRS/VNP09GA.py:1099-1138``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

TOOLS = [
    "search", "browser", "python", "bash", "calculator", "sql",
    "files", "email", "calendar", "weather", "maps", "translate",
]

EPOCH_START = np.datetime64("2025-01-01T00:00:00", "us")
WINDOW_DAYS = 30

_WORDS = np.array(
    [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
        "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
        "victor", "whiskey", "xray", "yankee", "zulu", "zero", "one",
        "two", "three", "four", "five", "six", "seven", "eight", "nine",
    ]
)


@dataclass(frozen=True)
class GenSpec:
    n_convs: int = 1000
    mean_turns: float = 14.0
    seed: int = 42
    conv_offset: int = 0  # conv-id namespace offset for chunked generation
    hot_frac: float = 0.001
    hot_multiplier: int = 1000
    hot_cap: int = 20000
    gappy_frac: float = 0.05
    dup_frac: float = 0.005
    window_days: int = WINDOW_DAYS


def _segmented_arange(counts: np.ndarray) -> np.ndarray:
    """[3,2] -> [0,1,2,0,1] without a Python loop."""
    total = int(counts.sum())
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    starts = np.cumsum(counts)[:-1]
    out[starts] = -counts[:-1] + 1
    return np.cumsum(out)


def generate_transcripts(spec: GenSpec = GenSpec()) -> pd.DataFrame:
    rng = np.random.default_rng(spec.seed)
    n = spec.n_convs

    # --- per-conv turn counts, with hot-conversation skew ---------------
    turns = rng.geometric(1.0 / spec.mean_turns, size=n).astype(np.int64) + 1
    hot = rng.random(n) < spec.hot_frac
    turns[hot] = np.minimum(turns[hot] * spec.hot_multiplier, spec.hot_cap)

    has_system = rng.random(n) < 0.3

    # --- role sequence via vectorized block expansion -------------------
    # Upper bound on blocks per conv: every block has >= 2 turns.
    blocks_per_conv = (turns // 2) + 1
    total_blocks = int(blocks_per_conv.sum())
    tool_block = rng.random(total_blocks) < 0.2
    block_len = np.where(tool_block, 3, 2).astype(np.int64)

    # expand blocks to rows
    row_block = np.repeat(np.arange(total_blocks), block_len)
    pos_in_block = _segmented_arange(block_len)
    role_code = np.where(
        pos_in_block == 0,
        0,  # user
        np.where((pos_in_block == 1) & np.repeat(tool_block, block_len), 2, 1),
    )  # 0=user 1=assistant 2=tool
    block_conv = np.repeat(np.arange(n), blocks_per_conv)
    row_conv = block_conv[row_block]

    # position of each row within its conv (after optional system turn)
    rows_per_conv_raw = np.bincount(row_conv, minlength=n)
    pos_in_conv = _segmented_arange(rows_per_conv_raw) + has_system[row_conv]

    keep = pos_in_conv < turns[row_conv]
    row_conv = row_conv[keep]
    role_code = role_code[keep]
    pos_in_conv = pos_in_conv[keep]

    # prepend system turns
    sys_convs = np.flatnonzero(has_system)
    row_conv = np.concatenate([sys_convs, row_conv])
    role_code = np.concatenate([np.full(len(sys_convs), 3, np.int64), role_code])
    pos_in_conv = np.concatenate([np.zeros(len(sys_convs), np.int64), pos_in_conv])

    order = np.lexsort((pos_in_conv, row_conv))
    row_conv = row_conv[order]
    role_code = role_code[order]
    turn_idx = pos_in_conv[order]
    m = len(row_conv)

    # --- timestamps: conv start uniform, lognormal inter-turn gaps ------
    conv_start_us = rng.integers(
        0, spec.window_days * 86400 * 1_000_000, size=n, dtype=np.int64
    )
    gaps_s = np.exp(rng.normal(np.log(20.0), 1.2, size=m))
    gaps_s = np.clip(gaps_s, 0.1, 6 * 3600.0)
    gaps_us = (gaps_s * 1e6).astype(np.int64)
    gaps_us[turn_idx == 0] = 0

    # gappy conversations: one silent span >= 2h (wider than 1m and 1h tiers)
    gappy = rng.random(n) < spec.gappy_frac
    turns_actual = np.bincount(row_conv, minlength=n)
    gap_pos = rng.integers(1, np.maximum(turns_actual, 2))
    gap_extra_us = rng.integers(
        2 * 3600 * 1_000_000, 8 * 3600 * 1_000_000, size=n, dtype=np.int64
    )
    conv_row_start = np.concatenate([[0], np.cumsum(turns_actual)[:-1]])
    tgt = conv_row_start + np.minimum(gap_pos, np.maximum(turns_actual - 1, 0))
    sel = gappy & (turns_actual >= 2)
    gaps_us[tgt[sel]] += gap_extra_us[sel]

    # segmented cumsum of gaps -> offsets within conv
    cum = np.cumsum(gaps_us)
    base = np.concatenate([[0], cum[np.cumsum(turns_actual)[:-1] - 1]])
    offsets = cum - base[row_conv] + gaps_us[conv_row_start][row_conv] * 0
    ts_us = conv_start_us[row_conv] + offsets

    # --- text: deterministic token soup ---------------------------------
    conv_hash = (row_conv * np.int64(2654435761)) & np.int64(0xFFFFFF)
    # 4096 precomputed phrases; per-row uniqueness comes from the prefix
    n_phrases = 4096
    p_words = np.clip(rng.poisson(6, size=n_phrases), 1, 12)
    p_idx = rng.integers(0, len(_WORDS), size=int(p_words.sum()))
    p_flat = _WORDS[p_idx]
    p_bounds = np.concatenate([[0], np.cumsum(p_words)])
    phrases = np.array(
        [" ".join(p_flat[p_bounds[i]: p_bounds[i + 1]]) for i in range(n_phrases)],
        dtype=object,
    )
    joined = phrases[rng.integers(0, n_phrases, size=m)]
    prefix = np.char.add(
        np.char.add(
            np.char.add("t", conv_hash.astype("U8")), "-"
        ),
        np.char.add(turn_idx.astype("U8"), "- "),
    )
    text = prefix.astype(object) + joined

    # --- tool column (Zipf over 12 names when role==tool) ---------------
    zipf_w = 1.0 / np.arange(1, len(TOOLS) + 1) ** 1.3
    zipf_w /= zipf_w.sum()
    tool_pick = rng.choice(len(TOOLS), size=m, p=zipf_w)
    tool = np.where(role_code == 2, np.array(TOOLS, dtype=object)[tool_pick], None)

    roles = np.array(["user", "assistant", "tool", "system"], dtype=object)
    df = pd.DataFrame(
        {
            "conv_id": pd.array(
                np.char.add(
                    "conv",
                    np.char.zfill(
                        (row_conv + spec.conv_offset).astype("U8"), 8
                    ),
                )
            ),
            "turn_idx": turn_idx.astype(np.int32),
            "role": roles[role_code],
            "text": text,
            "tool": tool,
            "ts": (EPOCH_START + ts_us.astype("timedelta64[us]")),
        }
    )

    # --- duplicate turns -------------------------------------------------
    n_dup = int(m * spec.dup_frac)
    if n_dup:
        dup_rows = rng.integers(0, m, size=n_dup)
        df = pd.concat([df, df.iloc[dup_rows]], ignore_index=True)
        # deterministic shuffle so duplicates aren't adjacent
        perm = rng.permutation(len(df))
        df = df.iloc[perm].reset_index(drop=True)

    df["conv_id"] = df["conv_id"].astype(str)
    return df


def write_transcripts_parquet(path: str, spec: GenSpec = GenSpec()) -> int:
    """Write the generated table as parquet; returns row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = generate_transcripts(spec)
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(
        pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us")),
            ]
        )
    )
    pq.write_table(table, path)
    return len(df)

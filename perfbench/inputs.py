"""Seed-driven benchmark inputs.

Every input is a pure function of ``--seed``: the transcript table comes
from ``sources.transcripts.GenSpec(seed=...)``, the late-data split and
batching from a NumPy generator seeded with the same value, and the
near-dup corpus from seed-chosen replicas of a committed base corpus
plus a seed-generated boilerplate flood. Files are written
with explicit Arrow schemas so a batch whose ``tool`` column happens to
be all null still types as ``string`` (an inferred ``void`` column would
poison the raw area for every later append).
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ecov003_l2t_stars_spark.sources.transcripts import (
    GenSpec,
    generate_transcripts,
)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )


def transcripts(n_convs: int, seed: int) -> pd.DataFrame:
    return generate_transcripts(GenSpec(n_convs=n_convs, seed=seed))


def rollup_transcripts(n_convs: int, n_hot: int, seed: int) -> pd.DataFrame:
    """``n_convs`` ordinary conversations plus exactly ``n_hot`` hot ones
    of 2000 turns (the generator's x1000 skew, capped). With the default
    0.1% hot share a small table holds a Poisson number of hot
    conversations, so its size, and every timing with it, would swing
    with the seed; a fixed count keeps the skew and steadies the size."""
    plain = generate_transcripts(GenSpec(n_convs=n_convs, seed=seed,
                                         hot_frac=0.0))
    hot = generate_transcripts(GenSpec(n_convs=n_hot, seed=seed + 1,
                                       hot_frac=1.0, hot_cap=2000,
                                       conv_offset=n_convs))
    return pd.concat([plain, hot], ignore_index=True)


def late_split(
    pdf: pd.DataFrame, seed: int, late_frac: float, convs_per_batch: int
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Hold back ~``late_frac`` of the rows; group the held-back rows
    into batches of ``convs_per_batch`` conversations in a seed-shuffled
    conversation order. Returns (base rows, late batches)."""
    rng = np.random.default_rng([seed, 1])
    late = rng.random(len(pdf)) < late_frac
    held = pdf[late]
    convs = np.sort(held["conv_id"].unique())
    rng.shuffle(convs)
    batch_of = pd.Series(
        np.arange(len(convs)) // convs_per_batch, index=convs
    )
    key = held["conv_id"].map(batch_of).to_numpy()
    batches = [
        held[key == b].reset_index(drop=True)
        for b in range(int(key.max()) + 1 if len(key) else 0)
    ]
    return pdf[~late].reset_index(drop=True), batches


# the sf0.1 ``documents`` table of the repository's test data (doc_id,
# text), committed with the benchmark so that a checkout can read it
BASE_DOCS = Path(__file__).resolve().parent / "data" / "documents.parquet"
_ALPHA = "aeiounrst"
# words in the boilerplate text. A one-character edit changes at most 5
# of its shingles; in a 60-word text that moved a variant out of the
# flood's bucket in 20-30% of the bands, so some bands' buckets fell
# under the LSH star cap and paired as a clique.
FLOOD_WORDS = 200


def _far_permutations(n: int, seed: int, min_dist: int = 6) -> list[str]:
    """``n`` letter permutations of ``_ALPHA`` that differ pairwise in at
    least ``min_dist`` of 9 positions, the identity first. Adjacent
    permutations would make replicas near-dups of each other."""
    rnd = random.Random(seed)
    perms = [_ALPHA]
    while len(perms) < n:
        cand = list(_ALPHA)
        rnd.shuffle(cand)
        c = "".join(cand)
        if all(sum(a != b for a, b in zip(c, p)) >= min_dist for p in perms):
            perms.append(c)
    return perms


def base_documents() -> list[str]:
    """The committed base corpus's texts, in ``doc_id`` order."""
    t = pq.read_table(BASE_DOCS).sort_by("doc_id")
    return t.column("text").to_pylist()


def documents(
    base: list[str], replicas: int, seed: int, flood_docs: int = 0
) -> pd.DataFrame:
    """Near-dup curation corpus (doc_id int64, text string).

    ``replicas`` letter-permuted copies of ``base`` that are pairwise
    far, so the near-dup density of ``base`` is the same in every
    replica; the permutations after the identity are chosen by the seed.
    On top, ``flood_docs`` variants of one 200-word boilerplate text over
    the base corpus's words (one character changed in each) form a flood
    big enough that the LSH star cap fires. Doc ids follow a
    seed-shuffled order."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for perm in _far_permutations(replicas, seed):
        table = str.maketrans(_ALPHA, perm)
        texts.extend(t.translate(table) for t in base)

    vocab = np.array(sorted({w for t in base for w in t.split()}))
    template = " ".join(
        vocab[rng.integers(0, len(vocab), size=FLOOD_WORDS)]
    )
    # each variant changes ONE character of the template: the shingles it
    # gains are its own, so a variant that leaves the flood's bucket in
    # some band lands alone, not in a clique with other variants
    pos = rng.integers(0, len(template), size=flood_docs)
    chars = rng.choice(list("bcdfghjklmpqvwxyz"), size=flood_docs)
    texts.extend(
        template[:p] + c + template[p + 1:] for p, c in zip(pos, chars)
    )

    order = rng.permutation(len(texts))
    return pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": np.asarray(texts, dtype=object)[order],
        }
    )

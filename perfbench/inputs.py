"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed and the size arguments, so
the same seed always yields byte-identical inputs. Tables are written with
pyarrow straight to parquet: the engine only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from knowledge_graph_builder_spark import textkit
from knowledge_graph_builder_spark.rules import (
    FORCE_DETECT_PRODUCTS,
    KNOWN_COMPANIES,
    KNOWN_PRODUCTS,
)
from knowledge_graph_builder_spark.sources.synth import GOLDEN_TEXTS

TURNS_PER_CONV = 8
HOT_CONV_FACTOR = 100  # the hot conversation holds this many times the median turn count
N_FILES = 8  # input files per table, fixed so the scan split does not depend on the host
DELTA_SHARE = 0.01  # share of the filler conversations each snapshot appends a turn to

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_MONTHS = {m.lower() for m in (
    "January February March April May June July August September October November December"
).split()}
_PEOPLE = ["Tim Cook", "Jeff Bezos", "Satya Nadella", "Sundar Pichai", "Lisa Su", "Jensen Huang"]
_GPES = ["Seattle", "Cupertino", "Redmond", "California", "Tokyo", "London", "Austin", "Boston"]
_PRODUCTS = ["iPhone", "Android", "Surface", "Pixel", "Azure", "Xbox", "Chrome", "Kindle"]

# Sentences over the synthetic organisation names. The names are unknown
# TitleCase tokens, so textkit's capitalized-run fallback tags them ORG and
# the COMPANY-typed semantic rules turn them into triples and events.
_TEMPLATES = [
    "{a} competes with {b}.",
    "{a} acquired {b} for ${n} million in {year}.",
    "{a} collaborates with {b}.",
    "{person} is the CEO of {a}.",
    "{a} is headquartered in {gpe}.",
    "{a} released the {product} in {year}.",
    "{person} founded {a} in {gpe}.",
    "The team reviewed the quarterly report together.",
]

_TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_ROLES = ("user", "assistant", "tool")


def _reserved() -> set[str]:
    """Lower-cased words a synthetic name must not equal: anything the
    gazetteer, the lexicons or the stop list already give a meaning."""
    words = set(textkit.GAZETTEER) | set(KNOWN_COMPANIES) | set(KNOWN_PRODUCTS) | _MONTHS
    return words | {w.lower() for w in textkit._STOP_CAPS}


def synthetic_names(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct single-token TitleCase names (``Kavoru``), none of
    which is a known entity or contains a force-detected product string."""
    syllables = [c + v for c in _CONSONANTS for v in _VOWELS]
    reserved = _reserved()
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        word = "".join(rng.choice(syllables) for _ in range(3))
        if rng.random() < 0.5:
            word += rng.choice(_CONSONANTS)
        if word in seen or word in reserved or any(p in word for p in FORCE_DETECT_PRODUCTS):
            continue
        seen.add(word)
        out.append(word.capitalize())
    return out


class SentenceMaker:
    """Filler sentences naming organisations from a skewed (Zipf-like)
    vocabulary: a few names recur in many conversations, most are rare."""

    def __init__(self, rng: random.Random, n_names: int):
        self.rng = rng
        self.names = synthetic_names(rng, n_names)
        self.cum = list(itertools.accumulate(1.0 / (i + 1) ** 0.8 for i in range(n_names)))

    def __call__(self) -> str:
        rng = self.rng
        a, b = rng.choices(self.names, cum_weights=self.cum, k=2)
        if a == b:
            b = rng.choice(self.names)
        return rng.choice(_TEMPLATES).format(
            a=a, b=b, n=rng.randint(1, 999), year=rng.randint(1995, 2024),
            person=rng.choice(_PEOPLE), gpe=rng.choice(_GPES), product=rng.choice(_PRODUCTS),
        )


def _turn(conv_id: str, idx: int, text: str) -> tuple:
    role = _ROLES[idx % 3]
    return (conv_id, idx, role, text, "search" if role == "tool" else "",
            _EPOCH + dt.timedelta(seconds=idx))


def transcript_rows(seed: int, n_turns: int) -> tuple[list[tuple], SentenceMaker, dict[str, int]]:
    """About ``n_turns`` turns in 8-turn conversations, plus the golden
    conversations and one hot conversation at 100x the median turn count.
    Returns the rows (seeded shuffle), the sentence maker (to continue the
    same vocabulary in later snapshots) and the turn count per conversation."""
    rng = random.Random(seed)
    make = SentenceMaker(rng, max(100, n_turns // 4))
    rows: list[tuple] = []
    counts: dict[str, int] = {}
    for conv_id, turns in GOLDEN_TEXTS.items():
        rows.extend(_turn(conv_id, i, t) for i, t in enumerate(turns))
        counts[conv_id] = len(turns)
    n_convs = max(2, n_turns // TURNS_PER_CONV)
    for c in range(n_convs):
        conv_id = f"conv-{c:06d}"
        k = TURNS_PER_CONV * (HOT_CONV_FACTOR if c == 0 else 1)
        rows.extend(_turn(conv_id, i, make()) for i in range(k))
        counts[conv_id] = k
    rng.shuffle(rows)
    return rows, make, counts


def write_transcripts(rows: list[tuple], path: str) -> None:
    """Write ``rows`` as ``N_FILES`` parquet files under ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _TRANSCRIPTS)], schema=_TRANSCRIPTS
    )
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def snapshot_delta(seed: int, k: int, make: SentenceMaker, counts: dict[str, int]) -> list[tuple]:
    """Rows that snapshot ``k`` appends to snapshot ``k - 1``: one new turn
    on each of a different DELTA_SHARE of the filler conversations. Updates
    ``counts`` so the next delta continues each conversation."""
    convs = sorted(c for c in counts if c.startswith("conv-"))
    n = max(1, int(len(convs) * DELTA_SHARE))
    start = ((k - 1) * n) % len(convs)
    order = random.Random(seed).sample(convs, len(convs))
    chosen = (order + order)[start : start + n]
    rows = []
    for conv_id in chosen:
        rows.append(_turn(conv_id, counts[conv_id], make()))
        counts[conv_id] += 1
    return rows


_SUFFIXES = ["", " Inc", " Inc.", ", Inc.", " INC", " Corp", " Corp.", " LLC"]


def alias_names(seed: int, n_bases: int) -> list[str]:
    """``n_bases`` synthetic base names, each in the 8 suffix variants of
    ``_SUFFIXES``. Every variant shares the base token, so each base forms
    exactly one component under token-Jaccard >= 0.5."""
    bases = synthetic_names(random.Random(seed), n_bases)
    names = [b + s for b in bases for s in _SUFFIXES]
    random.Random(seed + 1).shuffle(names)
    return names


def write_names(names: list[str], path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.table({"name": pa.array(names, type=pa.string())})
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))

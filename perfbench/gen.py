"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so the same seed gives byte-identical inputs.  The shapes
mirror what the package's operators expect: the reference survey CSV
contract (Email, Name, Products, question columns) and the ``documents``
parquet table the registry queries read.
"""

from __future__ import annotations

import csv
import io
import os

import numpy as np
import pandas as pd

PRODUCTS = ("Alpha Jacket", "Beta Boots", "Gamma Scarf", "Delta Watch",
            "Epsilon Bag", "Zeta Gloves")
QUESTIONS = (
    "How was your experience with the product?",
    "What did you like most?",
    "What should we improve?",
    "How was delivery and packaging?",
    "Any other comments for our team?",
)
# Filler cells: values the pipeline maps to (Neutral, No Feedback).
# "" is written as an empty cell, which the CSV reader turns into null.
FILLER = ("", "n/a", "N/A", "none", "no", "-", "nan", "Ninguno")
FILLER_SHARE = 0.17
EMPTY_PRODUCTS_SHARE = 0.05

_OPENERS = ("great", "good", "okay", "poor", "terrible", "excellent",
            "decent", "awful", "lovely", "mixed feelings about")
_SUBJECTS = ("quality", "price", "fit", "colour", "support", "delivery",
             "packaging", "stitching", "sizing", "material", "design",
             "return process")
_TAILS = ("", ", but slow shipping", ", would buy again",
          ' - the "premium" line', "\nthanks", ", size runs small",
          ", worth it", "; not as pictured", ", again and again")

WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group",
         "hash", "customer", "sort", "order", "slow", "line", "part",
         "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
LANGS = ("en", "zh", "es", "fr", "de")


def _phrase_pool(rng: np.random.Generator, size: int) -> list[str]:
    pool: set[str] = set()
    while len(pool) < size:
        pool.add(f"{rng.choice(_OPENERS)} {rng.choice(_SUBJECTS)}"
                 f"{rng.choice(_TAILS)}".capitalize()
                 + ("" if rng.random() < 0.5 else f" #{rng.integers(100)}"))
    return sorted(pool)


def survey_frame(rng: np.random.Generator, n_rows: int) -> pd.DataFrame:
    """Survey responses: 1-3 products per row (some rows none), about
    FILLER_SHARE filler cells, and Zipf-drawn answers from a per-question
    phrase pool, so about 1/6 of the non-filler cells are distinct keys."""
    pool_size = max(8, n_rows // 2)
    cols: dict[str, list[str]] = {
        "Email": [f"user{i}@example.com" for i in range(n_rows)],
        "Name": [f"User {i}" for i in range(n_rows)],
    }
    products = []
    for _ in range(n_rows):
        if rng.random() < EMPTY_PRODUCTS_SHARE:
            products.append("")
            continue
        k = int(rng.integers(1, 4))
        products.append(", ".join(rng.choice(PRODUCTS, size=k, replace=False)))
    cols["Products"] = products
    for q in QUESTIONS:
        pool = _phrase_pool(rng, pool_size)
        ranks = np.minimum(rng.zipf(1.4, size=n_rows), pool_size) - 1
        filler = rng.random(n_rows) < FILLER_SHARE
        fill = rng.choice(FILLER, size=n_rows)
        cols[q] = [str(fill[i]) if filler[i] else pool[ranks[i]]
                   for i in range(n_rows)]
    return pd.DataFrame(cols)


def write_survey_csv(df: pd.DataFrame, path: str) -> int:
    """Write *df* as a quoted CSV (answers carry commas, quotes and
    newlines); returns the file size in bytes."""
    buf = io.StringIO()
    df.to_csv(buf, index=False, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
    data = buf.getvalue().encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def documents_frame(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    """Word-salad documents over a 30-word vocabulary; about 8% are
    near-copies of an earlier document (one word swapped, " dup" added)
    and 1% exact copies, so the dedup operators have work to find."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:
            words = texts[int(rng.integers(i))].split()
            words = [w for w in words if w != "dup"]
            words[int(rng.integers(len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words) + " dup")
        elif i > 10 and r < 0.09:
            texts.append(texts[int(rng.integers(i))])
        else:
            n = int(rng.integers(6, 100))
            texts.append(" ".join(rng.choice(WORDS, size=n)))
    langs = rng.choice(LANGS, size=n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(rng: np.random.Generator, out_dir: str,
                 n_docs: int) -> dict[str, int]:
    """Write the ``documents`` parquet table into *out_dir* (the layout
    ``sources.tables.load_table`` reads); returns bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    frames = {"documents": documents_frame(rng, n_docs)}
    sizes = {}
    for name, df in frames.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        sizes[name] = os.path.getsize(path)
    return sizes

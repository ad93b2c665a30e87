"""Seeded benchmark input shaped like the sf0.1 testdata.

``generate(out_dir, seed, pages)`` writes ``documents.parquet`` and
``embeddings.parquet`` with the same schemas and the same single-file,
single-row-group layout as the sf0.1 testdata directory, so the stage-1 scan
is as narrow as a user's.  Those two tables are all that the benchmarked
pipeline, registry builders and DuckDB oracles read.

Each page draws its word count and its words from the sf0.1
``documents`` distributions recorded in ``sf01_profile.json``; ``lang``
is drawn from the sf0.1 language mix, ``source`` follows sf0.1's
``src{doc_id % 20}`` rule and ``n_chars`` is the text length.  doc_ids
run 0..pages-1 and stay below 100000, because the planted-copy fixtures
add +100000/+200000.  sf0.1 has no NULL text, so neither has this
input.  ``embeddings.parquet`` is a byte copy of sf0.1's (``data/``).

Re-derive the profile from a testdata directory with

    python3 perfbench/gen.py --derive-profile <sf_dir>
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
PROFILE_PATH = os.path.join(HERE, "sf01_profile.json")
EMBEDDINGS_PATH = os.path.join(HERE, "data", "embeddings.parquet")
MAX_DOC_ID = 100_000
N_SOURCES = 20


def derive_profile(sf_dir: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["text", "lang"])
    texts = t.column("text").to_pylist()
    words = [t_.split(" ") for t_ in texts]
    return {
        "source": os.path.join(os.path.basename(os.path.normpath(sf_dir)),
                               "documents.parquet"),
        "pages": len(texts),
        "words_per_page": dict(sorted(Counter(map(len, words)).items())),
        "word_freq": dict(sorted(Counter(w for ws in words for w in ws).items())),
        "lang": dict(sorted(Counter(t.column("lang").to_pylist()).items())),
    }


def _dist(counts: dict):
    keys = list(counts)
    total = sum(counts.values())
    return keys, [counts[k] / total for k in keys]


def generate(out_dir: str, seed: int, pages: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not 0 < pages <= MAX_DOC_ID:
        raise ValueError(f"pages must be in 1..{MAX_DOC_ID}, got {pages}")
    with open(PROFILE_PATH) as fh:
        profile = json.load(fh)
    rng = np.random.default_rng(seed)
    lengths, p_len = _dist({int(k): v for k, v in profile["words_per_page"].items()})
    vocab, p_word = _dist(profile["word_freq"])
    langs, p_lang = _dist(profile["lang"])

    n_words = rng.choice(lengths, size=pages, p=p_len)
    word_idx = rng.choice(len(vocab), size=int(n_words.sum()), p=p_word)
    ends = np.cumsum(n_words)
    texts = [" ".join(vocab[j] for j in word_idx[e - n:e])
             for n, e in zip(n_words.tolist(), ends.tolist())]
    doc_id = np.arange(pages, dtype=np.int64)
    table = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": [langs[j] for j in rng.choice(len(langs), size=pages, p=p_lang)],
        "source": [f"src{i % N_SOURCES}" for i in range(pages)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"),
                   row_group_size=pages)
    shutil.copyfile(EMBEDDINGS_PATH, os.path.join(out_dir, "embeddings.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--derive-profile", metavar="SF_DIR", required=True)
    args = ap.parse_args()
    with open(PROFILE_PATH, "w") as fh:
        json.dump(derive_profile(args.derive_profile), fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()

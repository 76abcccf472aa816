"""Seeded generator for the benchmark's input tables.

The tables follow the schemas of the engine's test fixtures (FIXTURES.md at
the repository root) at sf0.1 sizes:

  events     100,000 rows  click-stream events, ts from 2024-01-01 (30 days)
  documents    5,000 rows  word-soup documents with planted exact and
                           near duplicates (the crawl-dedup gates' input)

Each table is one parquet file `<out>/<name>.parquet`, written with the same
Arrow types as the fixtures (events.ts is TIMESTAMP(NANOS)), so
`graft.queries.Tables.load` and DuckDB read them the way they read the
fixtures. The same seed always gives the same row values.

Usage: python3 datagen.py <out_dir> <seed> <table> [<table> ...]
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"events": 100_000, "documents": 5_000}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def events(rng, n=SIZES["events"]):
    # ~26 s apart on average, so 100k events span the 30 days of 2024-01
    gaps_us = rng.integers(1, 51_840_000, n)
    ts_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.cumsum(gaps_us)
    types = np.array(["signup", "click", "error", "view", "purchase"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array((ts_us * 1000).astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, len(types), n)]),
        "value": pa.array(rng.integers(0, 20_000, n) / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n=SIZES["documents"]):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n)]
    # 5% near duplicates (another document's text plus one marker word) and
    # a few exact re-crawls, the shapes the dedup gates must catch
    ids = rng.permutation(n)
    near, exact = ids[: n // 20], ids[n // 20: n // 20 + n // 600]
    others = ids[n // 20 + n // 600:]
    for d in near:
        texts[d] = texts[others[rng.integers(0, len(others))]] + " dup"
    for d in exact:
        texts[d] = texts[others[rng.integers(0, len(others))]]
    langs = np.array(["en", "es", "zh", "de", "fr"])
    lang = langs[rng.choice(len(langs), n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


GENERATORS = {"events": events, "documents": documents}


def main(out_dir, seed, tables):
    for name in tables:
        # one independent stream per table: adding a table to a workload
        # never changes the rows of another
        rng = np.random.default_rng([int(seed), sorted(GENERATORS).index(name)])
        pq.write_table(GENERATORS[name](rng), f"{out_dir}/{name}.parquet")


if __name__ == "__main__":
    if len(sys.argv) < 4 or any(t not in GENERATORS for t in sys.argv[3:]):
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], sys.argv[3:])

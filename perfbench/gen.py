"""Seeded input generator for the graft benchmark.

Every table has the schema of graft's test data (`events`, `part`,
`documents`), so the program reads it through its ordinary `Tables`
loaders and the DuckDB oracles in `SparkEntry.oracleSql` run on it
unchanged. Only numpy and pyarrow are used; the same seed and sizes
give byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes the inputs of one workload and `inputs.json`, the record of
their properties (rows, bytes, drop/warehouse ratio, late and updated
shares, duplicate densities).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ADJECTIVES = ["large", "small", "hot", "cold", "old", "new", "blue", "red"]
NOUNS = ["ring", "bolt", "widget", "gear", "anvil", "nut", "spring", "valve"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
N_SOURCES = 20
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400 * 1_000_000
ITEM_KEYS = 100  # props.k joins part.p_partkey 0..99, as in the test data

# Workload sizes, at graft's sf0.1 test scale: a 30-day month of 100K
# events, 1,500 users and a 20K-row `part` (as sf0.1's `events` and
# `part`), each drop one day of it; and a 5K-document corpus (sf0.1's
# `documents` count).
#
# Where each share comes from:
# - late_share: the program's own late-data gate (`pipeline_late` in
#   SparkEntry, and PipelineSpec) delivers one event in five late
#   (`event_id % 5 == 0`); a drop here carries the same share.
# - update_share: no figure exists in the test data (sf0.1 delivers each
#   event once) or in the program's gates; half is a chosen value, so the
#   idempotent re-delivery path (PipelineSpec: a re-delivered drop is a
#   no-op) and the SCD-1 update path run in equal measure.
# - the corpus is sf0.1-shaped source documents replicated 10x (the
#   replica structure the program's scale corpora use), kept at 5K
#   documents: 500 sources, each delivered with 4 exact replicas and 5
#   token-edited copies (one token replaced), so half of every group is
#   verbatim and half edited. The split is chosen: the test data has no
#   replica structure to measure it from.
# - among the sources, the duplicates sf0.1's own `documents` carry
#   (measured there: 250 of 5,000 documents, 5.0%, are another document
#   with the token "dup" appended; 8, 0.16%, are exact copies).
SIZES = {
    "daily_drops": {"month_events": 100_000, "users": 1_500, "parts": 20_000,
                    "drops": 48, "late_share": 0.20, "update_share": 0.5},
    "corpus_curation": {"sources": 500, "exact_replicas": 4, "edited_copies": 5,
                        "source_near_share": 0.05, "source_exact_share": 0.0016},
}
MONTH_DAYS = 30

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def rng_for(seed, stream):
    """An independent generator per (seed, stream) pair."""
    return np.random.default_rng([int(seed), stream])


def part_table(rng, n):
    key = np.arange(n, dtype=np.int64)
    adj = rng.integers(0, len(ADJECTIVES), n)
    noun = rng.integers(0, len(NOUNS), n)
    return pa.table({
        "p_partkey": key,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, len(PART_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (key % 1000) / 10.0, 1),
    })


def events_arrays(rng, n, first_id, day0, days, users, user_offset):
    """n fresh events over [day0, day0 + days), ids first_id.., in time order."""
    ts = np.sort(rng.integers(day0 * DAY_US, (day0 + days) * DAY_US, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts + EPOCH_US,
        "user_id": rng.integers(0, users, n).astype(np.int64) + user_offset,
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.uniform(0.0, 560.0, n), 2),
        "k": rng.integers(0, ITEM_KEYS, n),
    }


def events_table(a):
    return pa.table({
        "event_id": a["event_id"],
        "ts": pa.array(a["ts"], pa.timestamp("us")),
        "user_id": a["user_id"],
        "event_type": [EVENT_TYPES[t] for t in a["event_type"]],
        "value": a["value"],
        "props": ['{"k": %d}' % k for k in a["k"]],
    }, schema=EVENT_SCHEMA)


def take(a, idx):
    return {c: v[idx] for c, v in a.items()}


def concat(parts):
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def id_offsets(rng):
    """Seed-dependent event/user id offsets, so runs share no keys."""
    return int(rng.integers(1, 1000)) * 10_000_000, int(rng.integers(1, 1000)) * 100_000


def gen_daily_drops(seed, out, sz):
    rng = rng_for(seed, 1)
    eo, uo = id_offsets(rng)
    n_base = sz["month_events"]
    base = events_arrays(rng, n_base, eo, 0, MONTH_DAYS, sz["users"], uo)
    b = write(events_table(base), f"{out}/base/events.parquet")
    part = part_table(rng_for(seed, 2), sz["parts"])
    b += write(part, f"{out}/base/part.parquet")
    day_events = n_base // MONTH_DAYS
    n_late = int(round(day_events * sz["late_share"]))
    n_upd = int(round(n_late * sz["update_share"]))
    next_id = eo + n_base
    drop_bytes = []
    for i in range(sz["drops"]):
        fresh = events_arrays(rng, day_events - n_late, next_id,
                              MONTH_DAYS + i, 1, sz["users"], uo)
        next_id += day_events - n_late
        # late re-deliveries of base-month events: same time, user, type
        # and payload (so the same fact key and date partition); the
        # first n_upd of them carry a corrected value
        late = take(base, np.sort(rng.choice(n_base, n_late, replace=False)))
        late["value"] = late["value"].copy()
        late["value"][:n_upd] = np.round(
            late["value"][:n_upd] + rng.uniform(1.0, 50.0, n_upd), 2)
        drop = concat([late, fresh])
        drop_bytes.append(write(events_table(drop),
                                f"{out}/drops/{i:03d}/events.parquet"))
    return {"base_events": n_base, "parts": sz["parts"], "users": sz["users"],
            "drops": sz["drops"], "drop_events": day_events,
            "late_per_drop": n_late, "updated_per_drop": n_upd,
            "late_share": n_late / day_events,
            "updated_share": n_upd / day_events,
            "drop_warehouse_ratio": day_events / n_base,
            "bytes": b, "drop_bytes": int(np.median(drop_bytes)),
            "op_input_rows": day_events}


def source_texts(rng, n, near_share, exact_share):
    """n sf0.1-shaped documents: random texts of 10 to 100 words, a share
    of them another text with "dup" appended, a share exact copies."""
    n_near = int(round(n * near_share))
    n_exact = int(round(n * exact_share))
    n_uniq = n - n_near - n_exact
    lens = rng.integers(10, 101, n_uniq)
    flat = rng.integers(0, len(WORDS), int(lens.sum()))
    texts = [" ".join(WORDS[w] for w in ws)
             for ws in np.split(flat, np.cumsum(lens)[:-1])]
    texts += [texts[j] + " dup" for j in rng.integers(0, n_uniq, n_near)]
    texts += [texts[j] for j in rng.integers(0, n_uniq, n_exact)]
    return texts


def edit_token(rng, text):
    """`text` with one token replaced by a different vocabulary word."""
    toks = text.split(" ")
    i = int(rng.integers(0, len(toks)))
    toks[i] = rng.choice([w for w in WORDS if w != toks[i]])
    return " ".join(toks)


def corpus_table(rng, sz):
    """The replicated corpus: every source text, its exact replicas and its
    token-edited copies, in a seeded order (copies land anywhere)."""
    texts, edited = [], 0
    for src in source_texts(rng, sz["sources"], sz["source_near_share"],
                            sz["source_exact_share"]):
        texts += [src] * (1 + sz["exact_replicas"])
        texts += [edit_token(rng, src) for _ in range(sz["edited_copies"])]
        edited += sz["edited_copies"]
    n = len(texts)
    texts = [texts[j] for j in rng.permutation(n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), edited


def gen_corpus(seed, out, sz):
    t, edited = corpus_table(rng_for(seed, 3), sz)
    b = write(t, f"{out}/corpus/documents.parquet")
    n = t.num_rows
    distinct = len(set(t.column("text").to_pylist()))
    # exact density: documents an exact-dedup pass removes
    return {"docs": n, "sources": sz["sources"], "distinct_texts": distinct,
            "exact_density": (n - distinct) / n, "edited_density": edited / n,
            "bytes": b, "op_input_rows": n}


GENERATORS = {
    "daily_drops": gen_daily_drops,
    "corpus_curation": gen_corpus,
}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; return
    (and write to inputs.json) their recorded properties."""
    props = GENERATORS[workload](seed, out, SIZES[workload])
    props.update({"workload": workload, "seed": int(seed)})
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(props, f, sort_keys=True)
    return props


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py <%s> <seed> <out_dir>" % "|".join(GENERATORS))
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))

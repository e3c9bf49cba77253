"""Seeded input generator for the graft benchmark.

Writes every workload's input as parquet under one directory per seed,
plus a manifest (seed, replica counts, row counts, sha256 of each file).
A cached directory is reused only when its manifest matches what this
generator would write for the same seed; anything else is regenerated.

The tables follow the shape of graft's sf0.1 test data (documents drawn
from the same 30-word vocabulary with the same lang/source mix and length
range; events with the same five types, 30-day span and value range), but
are drawn here from the seed so the benchmark needs nothing outside its
checkout. It needs only the Python standard library (pqwrite.py writes the
parquet).
"""
import hashlib
import json
import math
import os
import random
import shutil

import pqwrite

GENERATOR_VERSION = 7

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split())
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EVENT_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00

# Workload sizes (every upper-case number here is recorded in the manifest,
# so changing one regenerates the cached inputs). sf0.1 has 5,000 documents
# and 100,000 events; the benchmark's run budget keeps these smaller.
BASE_DOCS = 2000
LLM_REPLICAS = 2            # llm_batch: word-permuted replicas of the base corpus
CLEAN_BASE_DOCS = 1250      # corpus_clean: distinct documents before duplication
CLEAN_MAX_COPIES = 20       # zipf-tailed exact-duplicate cap
CLEAN_NEAR_FRAC = 0.10      # share of distinct docs that get a one-word-edited twin
# share of distinct docs that get a twin with ~17% of words replaced: shingle
# Jaccard near the 0.5 cut, so LSH proposes pairs that verification rejects
CLEAN_BORDER_FRAC = 0.10
EVENT_USERS = 1500          # sf0.1 user universe per replica
EVENTS_PER_REPLICA = 10000
EVENT_REPLICAS = 2          # stream_replay: user-shifted replicas, timestamps kept
EVENT_DAYS = 30
PROMPTS = 400               # llm_interactive: distinct prompt texts
# Each table is a directory of this many parquet files, the layout a Spark
# job writes, so scans split across cores.
FILES_PER_TABLE = 8


def _texts(rng, n):
    return [" ".join(rng.choices(VOCAB, k=rng.randint(8, 100))) for _ in range(n)]


def _docs_table(ids, texts, rng):
    n = len(texts)
    return [
        ("doc_id", "int64", list(ids)),
        ("text", "string", texts),
        ("lang", "string", rng.choices(LANGS, weights=LANG_P, k=n)),
        ("source", "string", [f"src{i % 20}" for i in range(n)]),
        ("n_chars", "int64", [len(t) for t in texts]),
    ]


def llm_docs(rng):
    base = _texts(rng, BASE_DOCS)
    ids, texts = [], []
    for r in range(LLM_REPLICAS):
        for i, t in enumerate(base):
            w = t.split(" ")
            if r > 0:
                rng.shuffle(w)
            ids.append(r * BASE_DOCS + i)
            texts.append(" ".join(w))
    return _docs_table(ids, texts, rng), {"replicas": LLM_REPLICAS}


def clean_docs(rng):
    base = _texts(rng, CLEAN_BASE_DOCS)
    # copy counts follow zipf(2) capped at CLEAN_MAX_COPIES, as expected
    # counts rather than a draw, so every seed has the same duplication
    # profile; the seed picks which text gets which count
    p = [1.0 / k ** 2 / (math.pi ** 2 / 6) for k in range(1, CLEAN_MAX_COPIES + 1)]
    p[-1] = 1.0 - sum(p[:-1])
    n_k = [round(x * CLEAN_BASE_DOCS) for x in p]
    n_k[0] += CLEAN_BASE_DOCS - sum(n_k)
    copies = [k + 1 for k, n in enumerate(n_k) for _ in range(n)]
    rng.shuffle(copies)
    texts = []
    for t, k in zip(base, copies):
        texts.extend([t] * k)
    # near duplicates: one word replaced, Jaccard well above the 0.5 cut
    for i in rng.sample(range(CLEAN_BASE_DOCS), int(CLEAN_BASE_DOCS * CLEAN_NEAR_FRAC)):
        w = base[i].split(" ")
        w[rng.randrange(len(w))] = rng.choice(VOCAB)
        texts.append(" ".join(w))
    for i in rng.sample(range(CLEAN_BASE_DOCS), int(CLEAN_BASE_DOCS * CLEAN_BORDER_FRAC)):
        w = [rng.choice(VOCAB) if rng.random() < 0.17 else x for x in base[i].split(" ")]
        texts.append(" ".join(w))
    rng.shuffle(texts)
    return _docs_table(range(len(texts)), texts, rng), {
        "distinct_base": CLEAN_BASE_DOCS, "max_copies": CLEAN_MAX_COPIES,
        "exact_copies": sum(copies)}


def events(rng):
    n = EVENTS_PER_REPLICA
    span_us = EVENT_DAYS * 86400 * 1_000_000
    rows = []
    for r in range(EVENT_REPLICAS):
        ts = sorted(rng.randrange(span_us) for _ in range(n))
        for t in ts:
            rows.append((EVENT_START_US + t, rng.randrange(EVENT_USERS) + r * EVENT_USERS,
                         rng.choice(EVENT_TYPES), round(rng.uniform(0, 560), 2),
                         '{"k": %d}' % rng.randrange(100)))
    rows.sort(key=lambda row: row[0])  # stable: replicas interleave by time
    return [
        ("event_id", "int64", list(range(len(rows)))),
        ("ts", "timestamp_us", [row[0] for row in rows]),
        ("user_id", "int64", [row[1] for row in rows]),
        ("event_type", "string", [row[2] for row in rows]),
        ("value", "double", [row[3] for row in rows]),
        ("props", "string", [row[4] for row in rows]),
    ], {"replicas": EVENT_REPLICAS, "users_per_replica": EVENT_USERS}


def prompts(rng):
    return [("prompt_id", "int64", list(range(PROMPTS))),
            ("text", "string", _texts(rng, PROMPTS))], {}


TABLES = {"llm_docs": llm_docs, "clean_docs": clean_docs, "events": events,
          "prompts": prompts}


def _sha256(table_dir):
    """sha256 over the table's files in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(table_dir)):
        with open(os.path.join(table_dir, name), "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _write(columns, table_dir):
    os.makedirs(table_dir)
    rows = len(columns[0][2])
    step = -(-rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        part = [(name, kind, values[i * step:(i + 1) * step]) for name, kind, values in columns]
        pqwrite.write(os.path.join(table_dir, f"part-{i:05d}.parquet"), part)
    return sum(os.path.getsize(os.path.join(table_dir, f)) for f in os.listdir(table_dir))


def _params(seed):
    """What the manifest must match: generator version, seed and sizes."""
    return {"generator_version": GENERATOR_VERSION, "seed": seed,
            "sizes": {k: v for k, v in globals().items() if k.isupper() and isinstance(v, (int, float))}}


def _valid(out_dir, seed):
    try:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return False
    if m.get("params") != _params(seed):
        return False
    for name, meta in m.get("tables", {}).items():
        p = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.isdir(p) or _sha256(p) != meta["sha256"]:
            return False
    return set(m.get("tables", {})) == set(TABLES)


def ensure(out_dir, seed):
    """Returns the manifest of out_dir, regenerating it unless valid."""
    if not _valid(out_dir, seed):
        shutil.rmtree(out_dir, ignore_errors=True)
        tmp = out_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        tables = {}
        for i, (name, fn) in enumerate(TABLES.items()):
            # one independent stream per table, so resizing one table
            # leaves the others' contents unchanged
            rng = random.Random(f"{seed}/{i}")
            columns, extra = fn(rng)
            p = os.path.join(tmp, f"{name}.parquet")
            size = _write(columns, p)
            tables[name] = {"rows": len(columns[0][2]), "bytes": size, "files": FILES_PER_TABLE,
                            "sha256": _sha256(p), **extra}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"params": _params(seed), "tables": tables}, f, indent=1, sort_keys=True)
        os.rename(tmp, out_dir)
    with open(os.path.join(out_dir, "manifest.json")) as f:
        return json.load(f)

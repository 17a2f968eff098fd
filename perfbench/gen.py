"""Seeded input generator for the benchmark.

Writes the star-schema tables and the ``documents`` corpus (the same
column names and parquet types as the engine's test tables) and a
folder of plain-text files for the generic MapReduce runner. The same
seed gives byte-identical inputs. The seed also chooses each table's
row order and how it is split into files, so no plan can depend on one
physical layout.

Documents draw from per-language vocabularies large enough that word
5-grams rarely collide by chance; a share of them are near-duplicate
edits of an earlier document (work for the MinHash and
connected-component operators), and a few are exact copies.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of one input set: the engine's sf0.01 test sizes, with
#: half its documents.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "documents": 250,
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents",
]
LANGS = ["en", "de", "fr", "es", "zh"]
#: Every language's profile words, so the heuristic and trained
#: language identifiers both have signal. A copy of the engine's
#: ``text_analysis.LANG_PROFILES``, not an import of it: the inputs must
#: not change when the program under test does.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "de", "et", "un"],
    "es": ["el", "la", "de", "y", "un"],
    "de": ["der", "die", "das", "und", "ein"],
    "zh": ["de", "le", "shi", "he", "zai"],
}
SYLLABLES = {
    "en": ["th", "an", "er", "in", "on", "at", "st", "re", "ing", "ed",
           "ou", "ly", "al", "ch", "or", "ight"],
    "de": ["sch", "ei", "ch", "en", "ung", "ü", "ö", "ä", "ß", "st", "ie",
           "ke", "ber", "lich"],
    "fr": ["é", "è", "ou", "eau", "ç", "on", "ai", "que", "ti", "ent",
           "mi", "ré"],
    "es": ["ñ", "ción", "os", "as", "ar", "ue", "ll", "á", "í", "es", "ra",
           "do"],
}
VOCAB_SIZE = 400
WORDS_PER_DOC = (20, 90)
NEAR_DUP_FRAC = 0.25
EXACT_DUP_FRAC = 0.03
EDIT_FRAC = 0.04
MR_FILES = 4
MR_FILE_WORDS = 4000
#: Files per table of 100 rows or more.
FILES = 4


def _vocab(lang: str) -> list[str]:
    """A fixed per-language vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(1000 + LANGS.index(lang))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        if lang == "zh":
            n = int(rng.integers(2, 4))
            w = "".join(chr(0x4E00 + int(c)) for c in rng.integers(0, 3000, n))
        else:
            syl = SYLLABLES[lang]
            n = int(rng.integers(2, 4))
            w = "".join(syl[int(i)] for i in rng.integers(0, len(syl), n))
        if w not in STOPWORDS[lang]:
            words.add(w)
    return sorted(words)


def _sentence_text(rng, words: list[str]) -> str:
    """Join words into prose: ASCII sentence starts capitalised, commas,
    periods and the occasional number."""
    out = []
    start = True
    for w in words:
        if start and "a" <= w[0] <= "z":
            w = w[0].upper() + w[1:]
        start = False
        r = rng.random()
        if r < 0.06:
            w += ","
        elif r < 0.12:
            w += "."
            start = True
        elif r < 0.14:
            w = f"{w} {int(rng.integers(0, 2000))}"
        out.append(w)
    return " ".join(out)


def _documents(rng, n: int) -> dict[str, list]:
    vocab = {lang: _vocab(lang) for lang in LANGS}
    texts: list[str] = []
    token_lists: list[list[str]] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < EXACT_DUP_FRAC:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            token_lists.append(token_lists[j])
            langs.append(langs[j])
            continue
        if i > 10 and r < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            j = int(rng.integers(max(0, i - 60), i))
            lang = langs[j]
            toks = list(token_lists[j])
            for k in np.flatnonzero(rng.random(len(toks)) < EDIT_FRAC):
                toks[int(k)] = vocab[lang][int(rng.integers(0, VOCAB_SIZE))]
        else:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            n_words = int(rng.integers(*WORDS_PER_DOC))
            pool = vocab[lang]
            stop = STOPWORDS[lang]
            toks = [
                stop[int(rng.integers(0, len(stop)))]
                if rng.random() < 0.2
                else pool[int(rng.integers(0, len(pool)))]
                for _ in range(n_words)
            ]
        token_lists.append(toks)
        texts.append(_sentence_text(rng, toks))
        langs.append(lang)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": [len(t) for t in texts],
    }


def _dates(rng, n: int, start: datetime, days: int) -> list[datetime]:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, days, n)]


def _tables(rng) -> dict[str, pa.Table]:
    n = SIZES
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(k), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
        "c_mktsegment": [segs[int(s)] for s in rng.integers(0, 5, k)],
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
    })
    adj = ["small", "hot", "blue", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    types = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(k), i64),
        "p_name": [
            f"{adj[int(a)]} {noun[int(b)]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, k)],
        "p_type": [types[int(s)] for s in rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": pa.array(
            [round(900.0 + (i % 1000) / 10.0, 2) for i in range(k)], f64
        ),
    })
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
        "o_orderstatus": [("F", "O", "P")[int(s)] for s in rng.integers(0, 3, k)],
        "o_totalprice": pa.array(money(1000.0, 500000.0, k), f64),
        "o_orderdate": pa.array(_dates(rng, k, datetime(1995, 1, 1), 2404), ts),
        "o_orderpriority": [prios[int(s)] for s in rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    qty = rng.integers(1, 51, k).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, k), 2), f64
        ),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[int(s)] for s in rng.integers(0, 3, k)],
        "l_linestatus": [("O", "F")[int(s)] for s in rng.integers(0, 2, k)],
        "l_shipdate": pa.array(_dates(rng, k, datetime(1995, 1, 2), 2498), ts),
    })
    t["documents"] = pa.table(
        _documents(rng, n["documents"]),
        schema=pa.schema([
            ("doc_id", i64), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", i64),
        ]),
    )
    return t


def write_tables(root: str, seed: int) -> None:
    """Write every table under ``root/<name>.parquet/`` in a seed-chosen
    row order. A table of 100 rows or more is split into ``FILES`` files
    at seed-chosen cut points, each within a quarter of a file of the
    even split: the seed moves rows between files but not the number of
    scan tasks."""
    rng = np.random.default_rng(seed)
    for name, table in _tables(rng).items():
        d = os.path.join(root, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        parts = 1 if table.num_rows < 100 else FILES
        step = table.num_rows / parts
        bounds = np.linspace(0, table.num_rows, parts + 1)
        bounds[1:-1] += rng.uniform(-step / 4, step / 4, parts - 1)
        bounds = bounds.astype(int)
        for p in range(parts):
            pq.write_table(
                table.slice(bounds[p], bounds[p + 1] - bounds[p]),
                os.path.join(d, f"part-{p:02d}.parquet"),
            )


def write_text_files(root: str, seed: int) -> None:
    """Plain-text inputs for the generic MapReduce runner, one map task
    per file (the reference's Gutenberg-file granularity)."""
    rng = np.random.default_rng(seed + 7)
    os.makedirs(root, exist_ok=True)
    vocab = [w for lang in LANGS for w in _vocab(lang)]
    for f in range(MR_FILES):
        idx = rng.zipf(1.3, MR_FILE_WORDS) % len(vocab)
        text = _sentence_text(rng, [vocab[int(i)] for i in idx])
        with open(os.path.join(root, f"pg-{f:02d}.txt"), "w", encoding="utf-8") as fh:
            fh.write(text + "\n")


def link_copy(src: str, dst: str) -> None:
    """A fresh path over the same bytes (hard links): per-process memos
    keyed by path, and Spark's file-listing cache, miss on it."""
    for dirpath, _dirs, files in os.walk(src):
        out = os.path.join(dst, os.path.relpath(dirpath, src))
        os.makedirs(out, exist_ok=True)
        for fn in files:
            os.link(os.path.join(dirpath, fn), os.path.join(out, fn))


if __name__ == "__main__":
    import sys

    # python3 perfbench/gen.py OUT_DIR SEED
    out, seed = sys.argv[1], int(sys.argv[2])
    write_tables(out, seed)
    write_text_files(os.path.join(out, "mr"), seed)

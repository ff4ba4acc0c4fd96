"""Seeded input generator for the pipeline benchmark.

``generate(workload, seed, out_dir)`` writes one workload's input files
under ``out_dir`` and returns ``(props, truth)``:

- ``props`` are the input properties a later claim can cite (rows,
  bytes, dirty share per column, duplicate and PII shares, doc-length
  quantiles, frequent-word share). They are printed with every result.
- ``truth`` is what the generator planted and the output checks need
  without asking the program: the per-rule failure counts of etl_batch.

The same seed always gives byte-identical files. Only the standard
library and pyarrow are used, so generation never touches Spark.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes: one operation takes 1-2 s on a 4-core host, mostly Spark's
# per-job cost for etl_batch and the text operators for corpus_prep.
ETL_ROWS = 5_000
ETL_CUSTOMERS = 2_000
CORPUS_DOCS = 40
CORPUS_TAIL = (150, 200)   # word counts of the long-doc tail

STATUSES = ("OPEN", "FILLED", "PENDING")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
DIRTY_SHARE = 0.02      # per constrained column, etl_batch
NOISE_SHARE = 0.10      # whitespace / case noise on status (cleaned, not dirty)


def _vocab(rng: random.Random, n: int = 3_000) -> list[str]:
    """3-7 letter words: short enough that no word pair of a random
    30-word doc trips the quality gate's top-2-gram share, so which
    docs the gate keeps is decided by length and role alone."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 7))))
    return sorted(words)


# Frequent words, as in real text. On uniformly random words snappy's
# match search gives up at random points, so the program's compressed
# output, and with it the write ratio, would depend on the seed. Five
# letters, so they do not lower the average token length the quality
# gate reads.
FUNCTION_WORDS = ("about", "after", "other", "their", "there", "these",
                  "which", "would", "where", "while", "under", "first")
FUNCTION_SHARE = 0.3


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    """``n`` words: vocabulary words with frequent words between them,
    no two frequent words in a row and no word pair twice, so the
    quality gate's repeated-n-gram rules never fire on these docs."""
    words: list[str] = []
    pairs: set[tuple[str, str]] = set()
    while len(words) < n:
        prev = words[-1] if words else ""
        if prev not in FUNCTION_WORDS and rng.random() < FUNCTION_SHARE:
            w = rng.choice(FUNCTION_WORDS)
        else:
            w = rng.choice(vocab)
        if (prev, w) not in pairs:
            pairs.add((prev, w))
            words.append(w)
    return words


def _quantiles(values: list[int]) -> dict[str, float]:
    q = statistics.quantiles(values, n=100, method="inclusive")
    return {"p50": q[49], "p90": q[89], "p99": q[98], "max": max(values)}


def _write_parquet(table: pa.Table, path: str) -> None:
    """Uncompressed and without min/max statistics, so a file's size,
    the write ratio's denominator, follows the content's length and not
    how well one seed's random words compress."""
    pq.write_table(table, path, compression="none", write_statistics=False)


def _file_bytes(*paths: str) -> int:
    return sum(os.path.getsize(p) for p in paths)


# --------------------------------------------------------------------------
# etl_batch: orders CSV with planted dirty values + a parquet dimension
# --------------------------------------------------------------------------

def _gen_etl(rng: random.Random, out: str) -> tuple[dict, dict]:
    """Dirty values are planted independently per column; the planted
    count of each column equals the failed-row count its rule must log."""
    planted = {"order_id": 0, "quantity": 0, "status": 0, "total": 0,
               "priority": 0}
    noisy_status = 0
    ids = list(range(1, ETL_ROWS + 1))
    rng.shuffle(ids)
    base_day = dt.date(2024, 1, 1)
    csv_path = os.path.join(out, "orders.csv")
    with open(csv_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["order_id", "cust_key", "status", "total", "priority",
                    "quantity", "order_date", "comment"])
        for oid in ids:
            order_id = str(oid)
            if rng.random() < DIRTY_SHARE:
                order_id = rng.choice(("N/A", "id" + order_id))
                planted["order_id"] += 1
            status = rng.choice(STATUSES)
            r = rng.random()
            if r < DIRTY_SHARE:
                status = rng.choice(("CANCELLED", "unknown", "OPEN?"))
                planted["status"] += 1
            elif r < DIRTY_SHARE + NOISE_SHARE:
                status = rng.choice((f" {status.lower()}", f"{status.title()} ",
                                     f"  {status}"))
                noisy_status += 1
            cents = rng.randint(0, 10_000_000)
            if rng.random() < DIRTY_SHARE:
                cents = rng.choice((-rng.randint(1, 99_999),
                                    rng.randint(10_000_001, 50_000_000)))
                planted["total"] += 1
            sign = "-" if cents < 0 else ""
            total = f"{sign}{abs(cents) // 100}.{abs(cents) % 100:02d}"
            priority = str(rng.randint(1, 5))
            if rng.random() < DIRTY_SHARE:
                priority = rng.choice(("0", "9", "high"))
                planted["priority"] += 1
            quantity = str(rng.randint(1, 50))
            if rng.random() < DIRTY_SHARE:
                quantity = rng.choice(("x" + quantity, "N/A", "?"))
                planted["quantity"] += 1
            day = base_day + dt.timedelta(days=rng.randint(0, 364))
            comment = " ".join(rng.choice(("fast", "gift", "bulk", "late",
                                           "fragile", "repeat"))
                               for _ in range(rng.randint(0, 4)))
            w.writerow([order_id, rng.randint(1, ETL_CUSTOMERS + 200), status,
                        total, priority, quantity, day.isoformat(), comment])
    dim_path = os.path.join(out, "customers.parquet")
    keys = list(range(1, ETL_CUSTOMERS + 1))
    _write_parquet(pa.table({
        "customer_key": pa.array(keys, pa.int64()),
        "segment": [rng.choice(SEGMENTS) for _ in keys],
        "nation": [f"N{rng.randint(0, 24):02d}" for _ in keys],
    }), dim_path)
    props = {
        "rows": ETL_ROWS,
        "dim_rows": ETL_CUSTOMERS,
        "bytes": _file_bytes(csv_path, dim_path),
        "dirty_share": {c: round(n / ETL_ROWS, 5) for c, n in planted.items()},
        "status_noise_share": round(noisy_status / ETL_ROWS, 5),
    }
    return props, {"planted": planted}


# --------------------------------------------------------------------------
# corpus_prep: a documents-schema corpus
# --------------------------------------------------------------------------

def _pii(rng: random.Random) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f"user{rng.randint(1, 99999)}@example{rng.randint(1, 9)}.com"
    if kind == 1:
        return ".".join(str(rng.randint(0, 255)) for _ in range(4))
    return f"{rng.randint(100, 999)}-{rng.randint(10, 99)}-{rng.randint(1000, 9999)}"


def _write_docs(path: str, texts: list[str], rng: random.Random) -> None:
    ids = list(range(1, len(texts) + 1))
    _write_parquet(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([f"src{rng.randrange(4)}" for _ in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def _lengths(n: int, lo: int, hi: int) -> list[int]:
    """``n`` evenly spaced lengths in [lo, hi]: the length distribution
    is fixed, only which doc gets which length depends on the seed."""
    return [lo + round(i * (hi - lo) / max(n - 1, 1)) for i in range(n)]


def _gen_corpus(rng: random.Random, out: str) -> tuple[dict, dict]:
    """Lengths: the testdata's short docs (10-60 words here) plus a
    fixed tail of two long docs. Fixed counts: 10% of docs are
    repetitive low-quality docs, 15% carry PII, 10% are exact
    duplicates (after case / whitespace normalisation) of a doc that
    passes the quality gate. Operator cost grows with tokens per doc
    and the output with the docs that survive, so lengths and roles
    are a fixed schedule; the seed picks content and order."""
    vocab = _vocab(rng)
    n_dup, n_rep, n_pii = CORPUS_DOCS // 10, CORPUS_DOCS // 10, CORPUS_DOCS * 15 // 100
    lengths = _lengths(CORPUS_DOCS - n_dup - len(CORPUS_TAIL), 10, 60)
    # Roles by position in the sorted length schedule, so repetitive and
    # PII docs have the same lengths whatever the seed: repetitive docs
    # spread evenly over it, PII docs over its odd positions.
    rep = set(range(0, len(lengths), len(lengths) // n_rep)[:n_rep])
    pii = set(i for i in range(1, len(lengths), 2) if i not in rep)
    pii = set(sorted(pii)[::max(len(pii) // n_pii, 1)][:n_pii])
    texts, eligible = [], []
    for i, n in enumerate(lengths + list(CORPUS_TAIL)):
        if i in rep:
            phrase = [rng.choice(vocab) for _ in range(rng.randint(2, 4))]
            words = (phrase * (n // len(phrase) + 1))[:n]
        else:
            words = _words(rng, vocab, n)
        if i in pii:
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(n)] = _pii(rng)
        texts.append(" ".join(words))
        if i not in rep and 40 <= n <= 60:
            eligible.append(texts[-1])
    for k, src in enumerate(eligible[::len(eligible) // n_dup][:n_dup]):
        texts.append((src.upper(), "  " + src.replace(" ", "   "), src + " ")[k % 3])
    rng.shuffle(texts)
    path = os.path.join(out, "documents.parquet")
    _write_docs(path, texts, rng)
    props = {
        "rows": len(texts),
        "bytes": _file_bytes(path),
        "exact_dup_share": round(n_dup / len(texts), 5),
        "pii_share": round(n_pii / len(texts), 5),
        "repetitive_share": round(n_rep / len(texts), 5),
        "doc_words": _quantiles([len(t.split()) for t in texts]),
        "frequent_word_share": round(
            sum(w in FUNCTION_WORDS for t in texts for w in t.split())
            / sum(len(t.split()) for t in texts), 5),
    }
    return props, {}


GENERATORS = {
    "etl_batch": _gen_etl,
    "corpus_prep": _gen_corpus,
}


def generate(workload: str, seed: int, out_dir: str) -> tuple[dict, dict]:
    os.makedirs(out_dir, exist_ok=True)
    # str seeds hash deterministically in random.Random (no PYTHONHASHSEED).
    rng = random.Random(f"{workload}:{seed}")
    return GENERATORS[workload](rng, out_dir)

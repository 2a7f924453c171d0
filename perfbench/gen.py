"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the run's
``--seed``: the same seed writes byte-identical inputs.  Nothing is read
from outside the checkout.

- :func:`write_tables` — the star schema the registered queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column types and value domains of
  the project's synthetic test tables, at a chosen scale.
- :func:`write_curate_corpus` — a ``documents`` table with a stated
  share of exact and near duplicates, for ``curate_corpus``.
- :func:`make_posts`, :func:`write_post_backlog` — reddit-style posts
  as JSON lines (``schemas.POST_SCHEMA``), one file per poll of the
  reference collector, so a file-source stream taking one file per
  trigger sees the reference's largest micro-batch.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test corpus's 30-word vocabulary; "the" and "a" are the function
# words the curation quality gate requires.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()

# Everyday words for post bodies: wider than DOC_VOCAB so unrelated posts
# share few token 3-grams and only injected near-duplicates reach the
# set-similarity threshold.
POST_VOCAB = (
    "i feel today work school friend family sleep night morning day week "
    "tired talk help want need know think really just like time home life "
    "people nothing something always never again still better worse maybe "
    "job class exam money rent dog cat game music walk run eat food call "
    "text phone sister brother mom dad therapist doctor meds weekend city "
    "bus rain sun coffee tea book movie show").split()

# The reference's 16 distress keywords
# (spark_jobs/preprocessing_streaming.py:13-18).
DISTRESS = ("suicide", "kill myself", "end it all", "no reason to live",
            "hopeless", "worthless", "give up", "can't go on",
            "depressed", "anxious", "panic", "overwhelmed",
            "lonely", "isolated", "scared", "die")

# The reference collector polls these three subreddits in turn, 25 newest
# posts each, every 30 s (kafka_producer/reddit_collector_kafka.py:29-30,
# 64, 125): at most 75 posts per poll, in equal shares.
SUBREDDITS = ("depression", "Anxiety", "mentalhealth")
POSTS_PER_SUBREDDIT = 25
POSTS_PER_POLL = POSTS_PER_SUBREDDIT * len(SUBREDDITS)

LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget",
             "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _words(rng: np.random.Generator, vocab, n: int) -> list[str]:
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def _documents(rng: np.random.Generator, n: int, near_share: float,
               exact_share: float) -> list[str]:
    """``n`` texts of 10-100 DOC_VOCAB words.  A ``near_share`` of them
    copy an earlier original text plus a trailing " dup" token (Jaccard
    well above the 0.5 dedup threshold); an ``exact_share`` copy one
    verbatim.  Copies are made of originals only, so every duplicate
    cluster is a star around one original and the number of
    label-propagation rounds in component-based dedup does not vary
    with the seed."""
    texts: list[str] = []
    originals: list[int] = []
    kinds = rng.random(n)
    for i in range(n):
        if originals and kinds[i] < exact_share:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif originals and kinds[i] < exact_share + near_share:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(_words(rng, DOC_VOCAB,
                                         int(rng.integers(10, 101)))))
    return texts


def _documents_table(rng: np.random.Generator, texts: list[str]) -> dict:
    n = len(texts)
    ids = np.arange(n, dtype="int64")
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write the ten query tables at ``scale`` (1.0 = 1.5M orders, the
    TPC-H scale-factor convention) and return their row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(500, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_emb = n_doc
    n_users = max(50, int(15_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_round2(rng.uniform(-999.99, 9999.99, n_supp)))})
    price = _round2(900.0 + (np.arange(n_part) % 1000) * 0.1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part),
                                rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(price)})

    d0, d1 = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = d0 + rng.integers(0, (d1 - d0) // _US_PER_DAY + 1, n_ord) * _US_PER_DAY
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array([("O", "P", "F")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_round2(rng.uniform(1000.0, 500_000.0, n_ord))),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)])})

    lok = rng.integers(0, n_ord, n_line).astype("int64")
    lpart = rng.integers(0, n_part, n_line).astype("int64")
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_round2(qty * price[lpart] * rng.uniform(1.0, 2.1, n_line))),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * _US_PER_DAY)})

    e0 = _us(dt.datetime(2024, 1, 1))
    ets = np.sort(e0 + rng.integers(0, 30 * _US_PER_DAY, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype="int64")),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)]),
        "value": pa.array(_round2(rng.exponential(60.0, n_evt))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)])})

    _write(out_dir, "documents", _documents_table(
        rng, _documents(rng, n_doc, near_share=0.05, exact_share=0.002)))

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"))})
    return {"orders": n_ord, "lineitem": n_line, "events": n_evt,
            "documents": n_doc, "embeddings": n_emb}


CURATE_NEAR_SHARE = 0.10
CURATE_EXACT_SHARE = 0.05


def write_curate_corpus(out_dir: str, seed: int, n_docs: int) -> None:
    """A ``documents`` table of ``n_docs`` texts, CURATE_NEAR_SHARE near
    and CURATE_EXACT_SHARE exact duplicates of earlier texts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "documents", _documents_table(
        rng, _documents(rng, n_docs, CURATE_NEAR_SHARE, CURATE_EXACT_SHARE)))


# Unverified assumptions: the reference publishes no share of posts that
# carry a distress keyword or repeat an earlier post.  These shares only
# set how many posts score above 0 and how many the set-similarity dedup
# rejects.
POST_KEYWORD_SHARE = 0.30
POST_NEAR_SHARE = 0.10


def make_posts(seed: int, n_polls: int) -> list[dict]:
    """The posts of ``n_polls`` reference polls in POST_SCHEMA shape,
    oldest first: each poll holds POSTS_PER_SUBREDDIT posts of every
    subreddit, one subreddit after another.

    POST_KEYWORD_SHARE of the bodies carry 1-3 distress keywords and a
    POST_NEAR_SHARE copy an earlier original body with one word
    swapped."""
    rng = np.random.default_rng([seed, 3])
    t0 = 1_700_000_000.0
    posts, bodies, originals = [], [], []
    for i in range(n_polls * POSTS_PER_POLL):
        sub = SUBREDDITS[i % POSTS_PER_POLL // POSTS_PER_SUBREDDIT]
        r = rng.random()
        if originals and r < POST_NEAR_SHARE:
            words = bodies[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = POST_VOCAB[
                int(rng.integers(0, len(POST_VOCAB)))]
        else:
            originals.append(i)
            words = _words(rng, POST_VOCAB, int(rng.integers(15, 41)))
            if r < POST_NEAR_SHARE + POST_KEYWORD_SHARE:
                for _ in range(int(rng.integers(1, 4))):
                    words.insert(int(rng.integers(0, len(words) + 1)),
                                 DISTRESS[int(rng.integers(0, len(DISTRESS)))])
        body = " ".join(words)
        bodies.append(body)
        created = t0 + i * 7.0
        posts.append({
            "id": str(i),
            "title": " ".join(_words(rng, POST_VOCAB, int(rng.integers(3, 8)))).capitalize(),
            "text": body,
            "author": f"user{int(rng.integers(0, 500))}",
            "subreddit": sub,
            "created_utc": created,
            "score": int(rng.integers(0, 500)),
            "num_comments": int(rng.integers(0, 80)),
            "url": f"https://reddit.com/r/{sub}/comments/{i}",
            "timestamp": dt.datetime.fromtimestamp(created, dt.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S"),
        })
    return posts


def write_post_backlog(out_dir: str, posts: list[dict]) -> int:
    """Write ``posts`` as one JSONL file per poll (POSTS_PER_POLL posts),
    named so the file source lists them oldest first; return the file
    count."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = 0
    for n_files, start in enumerate(range(0, len(posts), POSTS_PER_POLL), 1):
        with open(os.path.join(out_dir, f"part-{n_files:05d}.json"), "w") as f:
            for p in posts[start:start + POSTS_PER_POLL]:
                f.write(json.dumps(p) + "\n")
    # the file source takes files oldest-first by modification time
    t = 1_600_000_000
    for i, name in enumerate(sorted(os.listdir(out_dir))):
        os.utime(os.path.join(out_dir, name), (t + i, t + i))
    return n_files

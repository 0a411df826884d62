"""Seeded, vectorized input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical parquet files, a different seed different ones.
Nothing here imports Spark, so inputs are made before the timed
processes start and are cached per seed under the checkout's
``.perfbench_cache/`` directory (ignored by git).

Two input families:

* ``hm_tables`` — the H&M recsys inputs as the four raw JSON envelopes
  (``etl_timestamp, etl_id, event_type, raw_data``) that
  ``pipeline.run_flow`` ingests. Two ETL batches per table (the old one
  a stale partial copy the latest-batch filter must drop), exact
  duplicate transactions, power-law customer activity, purchase dates
  on both sides of both split dates, and planted preference clusters
  so that recall@10 carries signal.
* ``corpus_table`` — a web-text corpus (``doc_id, text, source, url``)
  calibrated so most documents pass ``gopher_rules``, with planted
  URL duplicates (messy variants of an earlier page's URL) and planted
  near-duplicate texts (an earlier document with a few tokens edited).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPE = pa.schema(
    [
        ("etl_timestamp", pa.int64()),
        ("etl_id", pa.string()),
        ("event_type", pa.string()),
        ("raw_data", pa.string()),
    ]
)
OLD_BATCH = ("batch-old", 1_600_000_000_000)
NEW_BATCH = ("batch-new", 1_700_000_000_000)
# The flow's default split dates (pipeline.FlowConfig); generated
# purchase dates cover both sides of each.
FIRST_DAY = np.datetime64("2020-08-10")
N_DAYS = 44  # 2020-08-10 .. 2020-09-22


@dataclass(frozen=True)
class HMSize:
    customers: int
    articles: int
    transactions: int
    clusters: int = 24


@dataclass(frozen=True)
class CorpusSize:
    docs: int
    vocab: int = 3000


HM_SIZE = HMSize(customers=2000, articles=600, transactions=20000)
CORPUS_SIZE = CorpusSize(docs=1200)


def _json_rows(columns: dict[str, np.ndarray]) -> np.ndarray:
    """One compact JSON object per row, every value a JSON string (the
    csv.DictReader shape of the raw layer). Built column-wise: each
    value is escaped once with ``json.dumps`` over its distinct values,
    then the fragments are concatenated as numpy string arrays."""
    out = None
    for i, (key, values) in enumerate(columns.items()):
        uniq, inv = np.unique(values.astype(str), return_inverse=True)
        enc = np.array([json.dumps(u) for u in uniq], dtype=object)[inv]
        frag = ("{" if i == 0 else ",") + json.dumps(key) + ":"
        out = frag + enc if out is None else out + frag + enc
    return (out + "}").astype(str)


def _envelope(table: str, rows: np.ndarray, old_rows: np.ndarray) -> pa.Table:
    n_new, n_old = len(rows), len(old_rows)
    return pa.table(
        {
            "etl_timestamp": np.concatenate(
                [np.full(n_new, NEW_BATCH[1]), np.full(n_old, OLD_BATCH[1])]
            ).astype(np.int64),
            "etl_id": [NEW_BATCH[0]] * n_new + [OLD_BATCH[0]] * n_old,
            "event_type": [table] * (n_new + n_old),
            "raw_data": np.concatenate([rows, old_rows]).tolist(),
        },
        schema=ENVELOPE,
    )


def _stale_copy(rng: np.random.Generator, rows: np.ndarray, share: float) -> np.ndarray:
    """The old ETL batch: a random partial copy of the rows."""
    keep = rng.random(len(rows)) < share
    return rows[keep]


def hm_tables(seed: int, size: HMSize) -> tuple[dict[str, pa.Table], dict]:
    """The four raw envelopes plus the measured share of each planted
    property (``props``)."""
    rng = np.random.default_rng([seed, 1])
    nc, na, nt, k = size.customers, size.articles, size.transactions, size.clusters

    cust_ids = np.array(
        [f"{v:016x}" for v in rng.integers(0, 2**63, nc, dtype=np.int64)]
    )
    cust_cluster = rng.integers(0, k, nc)
    ages = rng.integers(18, 80, nc).astype(str)
    ages[rng.random(nc) < 0.05] = ""  # ''-defaulted like the real CSV
    customers = _json_rows(
        {
            "Active": np.where(rng.random(nc) < 0.6, "1.0", ""),
            "FN": np.where(rng.random(nc) < 0.4, "1.0", ""),
            "age": ages,
            "club_member_status": rng.choice(["ACTIVE", "PRE-CREATE", "LEFT CLUB"], nc, p=[0.9, 0.08, 0.02]),
            "customer_id": cust_ids,
            "fashion_news_frequency": rng.choice(["NONE", "Regularly", "Monthly"], nc),
            "postal_code": np.char.add("p", rng.integers(0, 500, nc).astype(str)),
        }
    )

    art_ids = 100_000_000 + 7 * np.arange(na)
    art_cluster = rng.integers(0, k, na)
    articles = _json_rows(
        {
            "article_id": art_ids,
            "product_code": art_ids // 1000,
            "product_type_no": rng.integers(0, 130, na),
            "product_group_name": rng.choice(["Garment Upper body", "Garment Lower body", "Accessories", "Shoes"], na),
            "graphical_appearance_no": rng.integers(1010001, 1010030, na),
            "colour_group_code": art_cluster,
            "perceived_colour_value_id": rng.integers(1, 8, na),
            "perceived_colour_master_id": rng.integers(1, 20, na),
            "department_no": 1000 + art_cluster,
            "index_code": rng.choice(list("ABCDFGHIJS"), na),
            "index_group_no": rng.integers(1, 5, na),
            "section_no": rng.integers(2, 60, na),
            "garment_group_no": rng.integers(1001, 1025, na),
        }
    )
    has_image = rng.random(na) < 0.85
    images = _json_rows({"article_id": art_ids[has_image]})

    # Power-law activity: customer weights ~ 1/rank^0.9 over a shuffled
    # ranking; item popularity inside each cluster is power-law too.
    weights = 1.0 / np.arange(1, nc + 1) ** 0.9
    rng.shuffle(weights)
    buyer = rng.choice(nc, nt, p=weights / weights.sum())
    in_cluster = rng.random(nt) < 0.8
    order = np.argsort(art_cluster, kind="stable")
    starts = np.searchsorted(art_cluster[order], np.arange(k))
    counts = np.bincount(art_cluster, minlength=k)
    c = cust_cluster[buyer]
    # Zipf-like index into the cluster's article list: floor(n * u^2).
    pos = np.floor(counts[c] * rng.random(nt) ** 2).astype(np.int64)
    pos = np.minimum(pos, np.maximum(counts[c] - 1, 0))
    clustered = order[np.minimum(starts[c] + pos, na - 1)]
    random_item = np.floor(na * rng.random(nt) ** 3).astype(np.int64)
    item = np.where(in_cluster & (counts[c] > 0), clustered, random_item)
    days = FIRST_DAY + rng.integers(0, N_DAYS, nt).astype("timedelta64[D]")
    price = np.round(rng.gamma(2.0, 0.015, nt), 6)
    tx_cols = {
        "article_id": art_ids[item],
        "customer_id": cust_ids[buyer],
        "price": price,
        "sales_channel_id": rng.integers(1, 3, nt),
        "t_dat": days.astype(str),
    }
    dup = rng.random(nt) < 0.03  # exact duplicate rows (the A2 dedup case)
    tx_cols = {key: np.concatenate([v, v[dup]]) for key, v in tx_cols.items()}
    transactions = _json_rows(tx_cols)

    tables = {
        "articles": _envelope("articles", articles, _stale_copy(rng, articles, 0.3)),
        "customers": _envelope("customers", customers, _stale_copy(rng, customers, 0.3)),
        "transactions": _envelope("transactions_train", transactions, _stale_copy(rng, transactions, 0.1)),
        "images": _envelope("images_to_s3", images, _stale_copy(rng, images, 0.3)),
    }
    t = tx_cols["t_dat"]
    props = {
        "exact_duplicate_tx_share": round(float(dup.sum()) / len(t), 4),
        "in_cluster_tx_share": round(float(in_cluster.mean()), 4),
        "top1pct_customer_tx_share": round(_top_share(buyer, nc, 0.01), 4),
        "tx_before_2020-09-08_share": round(float((t < "2020-09-08").mean()), 4),
        "tx_2020-09-08_to_15_share": round(float(((t >= "2020-09-08") & (t < "2020-09-15")).mean()), 4),
        "tx_after_2020-09-15_share": round(float((t >= "2020-09-15").mean()), 4),
        "articles_with_image_share": round(float(has_image.mean()), 4),
        "old_batch_row_share": round(
            sum(tb.num_rows - len(_new_rows(tb)) for tb in tables.values())
            / sum(tb.num_rows for tb in tables.values()),
            4,
        ),
    }
    return tables, props


def _new_rows(table: pa.Table) -> list:
    return [e for e in table.column("etl_id").to_pylist() if e == NEW_BATCH[0]]


def _top_share(buyer: np.ndarray, n: int, frac: float) -> float:
    per = np.sort(np.bincount(buyer, minlength=n))[::-1]
    return per[: max(1, int(n * frac))].sum() / per.sum()


STOPWORDS = np.array(["the", "a", "of", "to", "and", "in", "is", "it"])
SOURCES = np.array(["web", "news", "forum", "wiki"])


def corpus_table(seed: int, size: CorpusSize) -> tuple[pa.Table, dict, np.ndarray]:
    """``(doc_id, text, source, url)`` plus the measured property shares
    and the sorted doc ids planted as duplicates (URL or near-text)."""
    rng = np.random.default_rng([seed, 2])
    n = size.docs
    # Content words: 3-9 letters, drawn once per seed.
    lengths = rng.integers(3, 10, size.vocab)
    letters = rng.integers(0, 26, (size.vocab, 9))
    vocab = np.array(
        ["".join(chr(97 + c) for c in row[:ln]) for row, ln in zip(letters, lengths)]
    )
    vocab = np.unique(vocab)

    n_tok = rng.integers(35, 95, n)
    fail = rng.random(n) < 0.08  # planted quality failures
    fail_short = fail & (rng.random(n) < 0.5)
    n_tok[fail_short] = rng.integers(8, 25, fail_short.sum())
    max_t = int(n_tok.max())
    zipf = np.floor(len(vocab) * rng.random((n, max_t)) ** 1.5).astype(np.int64)
    words = vocab[zipf]
    stop = rng.random((n, max_t)) < 0.25
    stop[fail & ~fail_short] = False  # no stopwords -> fails stop_frac
    words = np.where(stop, STOPWORDS[rng.integers(0, len(STOPWORDS), (n, max_t))], words)

    # Near-duplicates: a copy of an earlier passing document with ~4% of
    # its tokens replaced (3-shingle Jaccard stays well above 0.5).
    doc_ids = np.arange(n, dtype=np.int64)
    neardup = ~fail & (rng.random(n) < 0.12)
    src, neardup = _earlier(rng, np.flatnonzero(~fail & ~neardup), neardup)
    words[neardup] = words[src[neardup]]
    n_tok[neardup] = n_tok[src[neardup]]
    edit = (rng.random((n, max_t)) < 0.04) & neardup[:, None]
    words = np.where(edit, vocab[rng.integers(0, len(vocab), (n, max_t))], words)
    mask = np.arange(max_t)[None, :] < n_tok[:, None]
    text = np.array([" ".join(w[m]) for w, m in zip(words, mask)])

    # URLs: one page per document, except planted URL duplicates that
    # reuse an earlier non-duplicate document's page in a messy form
    # (upper-case host, www., tracking params, fragment, trailing slash).
    source = SOURCES[rng.integers(0, len(SOURCES), n)]
    site = rng.integers(0, 200, n)
    urldup = ~neardup & ~fail & (rng.random(n) < 0.06)
    page, urldup = _earlier(rng, np.flatnonzero(~urldup & ~neardup), urldup)
    page = np.where(urldup, page, doc_ids)
    site = np.where(urldup, site[page], site)
    host = np.char.add(np.char.add("site", site.astype(str)), ".example.com")
    path = np.char.add("/page/", page.astype(str))
    clean = np.char.add(np.char.add("https://", host), path)
    messy = np.char.add(
        np.char.add(np.char.add("https://WWW.", np.char.upper(host)), path),
        np.char.add("/?utm_source=feed", np.char.add("&ref=", doc_ids.astype(str))),
    )
    url = np.where(urldup, np.char.add(messy, "#top"), clean)

    table = pa.table(
        {"doc_id": doc_ids, "text": text.tolist(), "source": source.tolist(), "url": url.tolist()}
    )
    planted = np.sort(doc_ids[neardup | urldup])
    props = {
        "planted_quality_fail_share": round(float(fail.mean()), 4),
        "planted_neardup_share": round(float(neardup.mean()), 4),
        "planted_url_dup_share": round(float(urldup.mean()), 4),
        "mean_tokens": round(float(n_tok.mean()), 2),
        "stopword_share": round(float((np.isin(words, STOPWORDS) & mask).sum() / mask.sum()), 4),
    }
    return table, props, planted


def _earlier(rng, pool: np.ndarray, flagged: np.ndarray):
    """For every flagged index i, a uniform pick from the sorted ``pool``
    entries below i; an index with no earlier pool entry is unflagged."""
    idx = np.flatnonzero(flagged)
    below = np.searchsorted(pool, idx)
    keep = below > 0
    pick = np.zeros(len(flagged), dtype=np.int64)
    choice = np.floor(rng.random(len(idx)) * below).astype(np.int64)
    pick[idx[keep]] = pool[choice[keep]]
    flagged = flagged.copy()
    flagged[idx[~keep]] = False
    return pick, flagged


def write_inputs(root: str, seed: int, family: str) -> dict:
    """Write one input family (``hm`` or ``corpus``) for ``seed`` under
    ``root`` once and return its paths and properties; later calls with
    the same arguments and generator source reuse the files."""
    with open(__file__, "rb") as fh:
        code = hashlib.md5(fh.read()).hexdigest()[:8]
    out = os.path.join(root, f"{family}-seed{seed}-{code}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh)
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    info = {"seed": seed, "family": family, "dir": out}
    if family == "hm":
        tables, info["props"] = hm_tables(seed, HM_SIZE)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"hm_{name}.parquet"))
        info["hm"] = {name: os.path.join(out, f"hm_{name}.parquet") for name in tables}
    else:
        corpus, info["props"], planted = corpus_table(seed, CORPUS_SIZE)
        pq.write_table(corpus, os.path.join(tmp, "corpus.parquet"))
        np.save(os.path.join(tmp, "planted_dups.npy"), planted)
        info["corpus"] = os.path.join(out, "corpus.parquet")
        info["planted_dups"] = os.path.join(out, "planted_dups.npy")
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(info, fh, indent=1, sort_keys=True)
    try:
        os.rename(tmp, out)
    except OSError:  # another run of the same seed won the race
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return info

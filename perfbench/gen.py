"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and an output directory, writes plain files (parquet, CSV,
JSON lines) and returns the input properties the run records. The
program under test only ever sees the files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- ohlcv_rollup -----------------------------------------------------------

N_TICKERS = 951  # rows of the Daftar_Saham ticker list
N_TRADING_DAYS = 250  # ~1 year of business days
OHLCV_FILES = 8


def _spread(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """n integers evenly spread over [lo, hi] in random order: every seed
    gets the same multiset, so the amount of work does not vary by seed."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int))


def _codes(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct 4-letter IDX-style ticker codes."""
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    codes: set[str] = set()
    while len(codes) < n:
        codes.add("".join(rng.choice(letters, 4)))
    return sorted(codes)


def ohlcv(rng: np.random.Generator, out_dir: str) -> dict:
    """Daily OHLCV rows for N_TICKERS tickers in OHLCV_FILES parquet files
    plus the ticker dimension CSV. A fifth of the tickers list late
    (shorter history) and 1% are missing from the dimension, so groups
    vary in size and the left join keeps unmatched facts."""
    codes = _codes(rng, N_TICKERS)
    days = np.busday_offset("2019-01-01", np.arange(N_TRADING_DAYS), roll="forward")
    day_str = np.datetime_as_string(days, unit="D")
    first = np.zeros(N_TICKERS, dtype=int)
    late = rng.choice(N_TICKERS, N_TICKERS // 5, replace=False)
    first[late] = _spread(rng, 0, N_TRADING_DAYS - 20, len(late))
    cols: dict[str, list[np.ndarray]] = {k: [] for k in (
        "ticker", "Date", "Open", "High", "Low", "Close", "Volume",
        "Dividends", "Stock Splits")}
    for i, code in enumerate(codes):
        n = N_TRADING_DAYS - int(first[i])
        close = np.round(
            rng.uniform(50, 5000) * np.exp(np.cumsum(rng.normal(0, 0.02, n))), 2
        )
        open_ = np.round(close * np.exp(rng.normal(0, 0.01, n)), 2)
        spread = np.abs(rng.normal(0, 0.01, n))
        cols["ticker"].append(np.full(n, code))
        cols["Date"].append(day_str[first[i]:])
        cols["Open"].append(open_)
        cols["Close"].append(close)
        cols["High"].append(np.round(np.maximum(open_, close) * (1 + spread), 2))
        cols["Low"].append(np.round(np.minimum(open_, close) * (1 - spread), 2))
        cols["Volume"].append(rng.integers(0, 50_000_000, n))
        cols["Dividends"].append(
            np.where(rng.random(n) < 0.004, np.round(rng.uniform(1, 200, n), 2), 0.0)
        )
        cols["Stock Splits"].append(
            np.where(rng.random(n) < 0.0005, rng.choice([2.0, 5.0, 10.0], n), 0.0)
        )
    table = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    prices_dir = os.path.join(out_dir, "prices")
    os.makedirs(prices_dir)
    step = -(-table.num_rows // OHLCV_FILES)
    for f in range(OHLCV_FILES):
        pq.write_table(
            table.slice(f * step, step),
            os.path.join(prices_dir, f"part-{f:02d}.parquet"),
        )
    listed = _subset(rng, codes, 0.99)
    with open(os.path.join(out_dir, "daftar_saham.csv"), "w") as fh:
        fh.write("Kode,Nama Perusahaan,Papan Pencatatan\n")
        for c in listed:
            board = ("Utama", "Pengembangan", "Akselerasi")[int(rng.integers(0, 3))]
            fh.write(f"{c},PT {c.title()} Tbk,{board}\n")
    return {
        "rows": table.num_rows,
        "tickers": N_TICKERS,
        "trading_days": N_TRADING_DAYS,
        "dimension_rows": len(listed),
    }


# --- idx_upsert -------------------------------------------------------------

N_COMPANIES = 951
BASE_YEARS = list(range(2019, 2025))
NEW_YEAR = 2025
PERIODS = ["Q1", "Q2", "Q3", "Q4"]
RESTATED_YEARS = (2023, 2024)
BASE_SHARE = 0.85  # of all company × year × quarter keys
RESTATE_SHARE = 0.3

TEXT_FIELDS = ["EntityName", "Sector", "Subsector"]
NUMERIC_FIELDS = [
    "SalesAndRevenue", "GrossProfit", "ProfitLossBeforeIncomeTax",
    "FinanceCosts", "ProfitLoss", "CashAndCashEquivalents", "Assets",
    "ShortTermLoans", "CurrentMaturitiesOfBankLoans", "LongTermBankLoans",
    "Equity", "NetCashFlowsReceivedFromUsedInOperatingActivities",
    "NetCashFlowsReceivedFromUsedInInvestingActivities",
    "NetCashFlowsReceivedFromUsedInFinancingActivities", "Liabilities",
    "BasicEarningsLossPerShareFromContinuingOperations", "SellingExpenses",
    "GeneralAndAdministrativeExpenses", "CurrentAssets", "CurrentLiabilities",
]
SECTORS = {
    "Finance": ["Banks", "Insurance"],
    "Energy": ["Coal", "Oil & Gas"],
    "Consumer": ["Food & Beverage", "Retail"],
    "Infrastructure": ["Telecom", "Toll Roads"],
}


def _numeric_strings(rng: np.random.Generator, n: int) -> list:
    """Numbers stored as strings, as in the source documents: mostly
    decimals, with nulls, 'N/A', empty strings and exact zeros (zero
    denominators) mixed in."""
    vals = np.round(rng.normal(0, 1, n) * 10 ** rng.uniform(3, 9, n), 2)
    kind = rng.random(n)
    out: list = []
    for v, k in zip(vals.tolist(), kind.tolist()):
        if k < 0.04:
            out.append(None)
        elif k < 0.07:
            out.append("N/A")
        elif k < 0.08:
            out.append("")
        elif k < 0.10:
            out.append("0")
        else:
            out.append(repr(v))
    return out


def _subset(rng: np.random.Generator, items: list, share: float) -> list:
    """Exactly round(share · len) of ``items``, in their original order."""
    keep = np.sort(rng.choice(len(items), round(share * len(items)), replace=False))
    return [items[i] for i in keep]


def _report_lines(rng: np.random.Generator, keys: list[tuple], names: dict) -> list[str]:
    n = len(keys)
    numeric = {f: _numeric_strings(rng, n) for f in NUMERIC_FIELDS}
    lines = []
    for i, (code, year, period) in enumerate(keys):
        sector, sub = names[code]
        data = {"EntityName": f"PT {code.title()} Tbk", "Sector": sector,
                "Subsector": sub}
        data.update({f: numeric[f][i] for f in NUMERIC_FIELDS})
        lines.append(json.dumps(
            {"company_code": code, "year": year, "period": period, "data": data}
        ))
    return lines


def idx_reports(rng: np.random.Generator, out_dir: str) -> dict:
    """Base reports (most company × year × quarter keys of BASE_YEARS)
    and one update batch: RESTATE_SHARE of the RESTATED_YEARS keys with
    new figures plus a first quarter of NEW_YEAR for every company."""
    codes = _codes(rng, N_COMPANIES)
    sector_names = sorted(SECTORS)
    names = {}
    for c in codes:
        s = sector_names[int(rng.integers(0, len(sector_names)))]
        names[c] = (s, SECTORS[s][int(rng.integers(0, 2))])
    all_keys = [(c, y, p) for c in codes for y in BASE_YEARS for p in PERIODS]
    base_keys = _subset(rng, all_keys, BASE_SHARE)
    restated = _subset(rng, [k for k in base_keys if k[1] in RESTATED_YEARS], RESTATE_SHARE)
    new = [(c, NEW_YEAR, "Q1") for c in codes]
    os.makedirs(os.path.join(out_dir, "base"))
    os.makedirs(os.path.join(out_dir, "batch"))
    for sub, keys in (("base", base_keys), ("batch", restated + new)):
        lines = _report_lines(rng, keys, names)
        with open(os.path.join(out_dir, sub, "reports.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return {
        "base_reports": len(base_keys),
        "batch_reports": len(restated) + len(new),
        "restated_reports": len(restated),
        "new_reports": len(new),
    }


# --- news_dedup_summarize ----------------------------------------------------

N_DOCS = 200
EXACT_SHARE = 0.10  # reposts of an original, differing only in case/spacing
NEAR_SHARE = 0.10  # originals with a few words edited
LONG_SHARE = 0.05  # articles above the 1024-token chunk limit
LOWQ_SHARE = 0.06  # digit/punctuation-heavy tables: fail the quality filter
FOREIGN_SHARE = 0.05  # Indonesian-stopword articles: fail the language filter
EN_STOP = ["the", "a", "of", "and", "is", "in", "to", "it"]
ID_STOP = ["yang", "dan", "di", "ini", "itu", "dengan", "untuk", "tidak"]


def _vocabulary(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    """Pseudo-words of 2-4 syllables; none collides with a stopword of
    any language the program's language vote knows."""
    onset = list("bcdfghjklmnprstvwz") + ["br", "st", "tr", "pl", "ch"]
    vowel = ["a", "e", "i", "o", "u", "ai", "ou"]
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(
            onset[int(rng.integers(len(onset)))] + vowel[int(rng.integers(len(vowel)))]
            for _ in range(k)
        )
        words.add(w)
    return np.array(sorted(words))


def _article(rng, vocab: np.ndarray, n_words: int, stop: list[str]) -> str:
    """Sentences of 8-19 words until at least n_words; about a third of
    the words are stopwords of the given language."""
    lens = rng.integers(8, 20, n_words // 8 + 1)
    lens = lens[: int(np.searchsorted(np.cumsum(lens), n_words)) + 1]
    n = int(lens.sum())
    words = np.where(
        rng.random(n) < 0.35,
        np.array(stop)[rng.integers(0, len(stop), n)],
        vocab[rng.integers(0, len(vocab), n)],
    ).tolist()
    out, i = [], 0
    for k in lens.tolist():
        out.append(" ".join([words[i].capitalize()] + words[i + 1:i + k]) + ".")
        i += k
    return " ".join(out)


def _low_quality(rng) -> str:
    rows = [
        f"{int(rng.integers(1000, 99999))} | {rng.uniform(-99, 99):.2f}% | "
        f"({int(rng.integers(10, 999))}) ;"
        for _ in range(int(rng.integers(20, 60)))
    ]
    return " ".join(rows)


def _repost(rng, text: str) -> str:
    """Same normalized text: upper-cased, with doubled spaces and a
    padded end (spaces only)."""
    words = text.split(" ")
    upper = rng.random(len(words)) < 0.5
    return "  ".join(w.upper() if u else w for w, u in zip(words, upper)) + "   "


def _near_dup(rng, vocab, text: str) -> str:
    """Replace ~3% of the words and append a short sentence: word
    3-shingle Jaccard to the original stays well above 0.5."""
    words = text.split(" ")
    for i in rng.choice(len(words), max(1, len(words) // 33), replace=False):
        words[int(i)] = vocab[int(rng.integers(len(vocab)))]
    return " ".join(words) + " " + _article(rng, vocab, 1, EN_STOP)


def news(rng: np.random.Generator, out_dir: str) -> dict:
    """N_DOCS articles (doc_id, text) as parquet. Originals are English
    prose made of pseudo-words and real English stopwords, so they pass
    the quality and language filters; planted copies, edits, long
    articles, tables and foreign articles are shuffled in among them."""
    vocab = _vocabulary(rng)
    n_exact = int(N_DOCS * EXACT_SHARE)
    n_near = int(N_DOCS * NEAR_SHARE)
    n_lowq = int(N_DOCS * LOWQ_SHARE)
    n_foreign = int(N_DOCS * FOREIGN_SHARE)
    n_orig = N_DOCS - n_exact - n_near - n_lowq - n_foreign
    n_long = int(N_DOCS * LONG_SHARE)
    lengths = np.concatenate([
        _spread(rng, 1100, 1600, n_long), _spread(rng, 60, 300, n_orig - n_long)
    ])
    originals = [_article(rng, vocab, int(n), EN_STOP) for n in lengths]
    # copies and edits come from distinct short originals
    src = n_long + rng.permutation(n_orig - n_long)[: n_exact + n_near]
    texts = (
        originals
        + [_repost(rng, originals[int(s)]) for s in src[:n_exact]]
        + [_near_dup(rng, vocab, originals[int(s)]) for s in src[n_exact:]]
        + [_low_quality(rng) for _ in range(n_lowq)]
        + [_article(rng, vocab, int(n), ID_STOP) for n in _spread(rng, 60, 300, n_foreign)]
    )
    ids = rng.permutation(np.arange(1, N_DOCS + 1) * 7)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
    table = table.sort_by("doc_id")
    pq.write_table(table, os.path.join(out_dir, "news.parquet"), row_group_size=500)
    return {
        "docs": N_DOCS,
        "exact_dup_share": n_exact / N_DOCS,
        "near_dup_share": n_near / N_DOCS,
        "long_share": n_long / N_DOCS,
        "low_quality_share": n_lowq / N_DOCS,
        "foreign_share": n_foreign / N_DOCS,
    }


# --- ann_serve ---------------------------------------------------------------

N_VECTORS = 1024
DIM = 64
N_CLUSTERS = 32
CLUSTER_NOISE = 0.5  # per-coordinate spread around a unit-variance centre
QUERY_POOL = 512
QUERY_ID_BASE = 10_000_000  # query ids never collide with corpus ids


def _clustered(rng: np.random.Generator, centres: np.ndarray, n: int) -> np.ndarray:
    """n float32 vectors, an equal share around each centre."""
    which = rng.permutation(np.arange(n) % len(centres))
    return (centres[which] + rng.normal(0, CLUSTER_NOISE, (n, DIM))).astype(np.float32)


def embeddings(rng: np.random.Generator, out_dir: str) -> dict:
    """A corpus of N_VECTORS clustered DIM-wide embeddings (vec_id,
    embedding) as parquet, and a pool of QUERY_POOL query vectors drawn
    around the same centres (queries.npy), which the requests send."""
    centres = rng.normal(0, 1, (N_CLUSTERS, DIM))
    corpus = _clustered(rng, centres, N_VECTORS)
    queries = _clustered(rng, centres, QUERY_POOL)
    emb = pa.ListArray.from_arrays(
        np.arange(0, N_VECTORS * DIM + 1, DIM, dtype=np.int32), pa.array(corpus.ravel())
    )
    table = pa.table({"vec_id": pa.array(np.arange(N_VECTORS), pa.int64()), "embedding": emb})
    pq.write_table(table, os.path.join(out_dir, "corpus.parquet"), row_group_size=512)
    np.save(os.path.join(out_dir, "queries.npy"), queries)
    return {
        "vectors": N_VECTORS,
        "dim": DIM,
        "clusters": N_CLUSTERS,
        "query_pool": QUERY_POOL,
    }


GENERATORS = {
    "ohlcv_rollup": ohlcv,
    "idx_upsert": idx_reports,
    "news_dedup_summarize": news,
    "ann_serve": embeddings,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](np.random.default_rng(seed), out_dir)

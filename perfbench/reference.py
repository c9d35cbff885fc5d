"""Reference results the program did not compute, and the checks that
compare each job's output against them.

The references are written from the reference scripts' rules, not from
the program's code: DuckDB SQL for the OHLCV stat matrix and the
post-upsert IDX table, and plain Python (plus DuckDB md5 for the
minhash) for the news corpus and its summaries. Every check raises
``Mismatch`` on the first difference it finds.
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

REL_TOL = 1e-7
ABS_TOL = 1e-6


class Mismatch(Exception):
    """A job's output differs from the reference."""


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _frames_match(actual: pd.DataFrame, expected: pd.DataFrame, keys: list[str]) -> None:
    """Row-for-row comparison after sorting on ``keys``; floats within
    REL_TOL/ABS_TOL, everything else exactly (NULL equals NULL)."""
    if sorted(actual.columns) != sorted(expected.columns):
        raise Mismatch(
            f"columns differ: {sorted(set(actual.columns) ^ set(expected.columns))}"
        )
    if len(actual) != len(expected):
        raise Mismatch(f"row count {len(actual)} != reference {len(expected)}")
    a = actual.sort_values(keys, ignore_index=True)
    e = expected[list(actual.columns)].sort_values(keys, ignore_index=True)
    for c in a.columns:
        x, y = a[c], e[c]
        if pd.api.types.is_numeric_dtype(x) and pd.api.types.is_numeric_dtype(y):
            xv, yv = x.to_numpy(np.float64), y.to_numpy(np.float64)
            ok = np.isclose(xv, yv, rtol=REL_TOL, atol=ABS_TOL, equal_nan=True)
        else:
            ok = ((x == y) | (x.isna() & y.isna())).to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            raise Mismatch(f"column {c!r} row {a.loc[i, keys].tolist()}: {x[i]!r} != {y[i]!r}")


# --- ohlcv_rollup -----------------------------------------------------------

_OHLCV_METRICS = ["Open", "High", "Low", "Close", "Volume", "Dividends", "Stock Splits"]
_STAT_SQL = {"avg": "avg", "sum": "sum", "max": "max", "min": "min",
             "stddev": "stddev_samp"}


def ohlcv_reference(in_dir: str) -> pd.DataFrame:
    """Month and year stat matrices per ticker (yfinance_transform's
    aggregate_period: five stats × seven metrics + row count, a per-ticker
    sequence number by period), left-joined to the ticker dimension."""
    aggs = ", ".join(
        f'{fn}(CAST("{m}" AS DOUBLE)) AS {stat}_{m.lower().replace(" ", "_")}'
        for stat, fn in _STAT_SQL.items() for m in _OHLCV_METRICS
    ) + ", count(*) AS row_count"
    prices = os.path.join(in_dir, "prices", "*.parquet")
    dim = os.path.join(in_dir, "daftar_saham.csv")
    sql = f"""
    WITH p AS (SELECT *, CAST("Date" AS DATE) AS d FROM read_parquet('{prices}')),
    g AS (
      SELECT ticker, strftime(d, '%Y-%m') AS period_key, 'month' AS agg_type, {aggs}
      FROM p GROUP BY ticker, strftime(d, '%Y-%m')
      UNION ALL
      SELECT ticker, strftime(d, '%Y'), 'year', {aggs}
      FROM p GROUP BY ticker, strftime(d, '%Y'))
    SELECT g.*,
      row_number() OVER (PARTITION BY agg_type, ticker ORDER BY period_key) AS seq_number,
      dim.*
    FROM g LEFT JOIN read_csv('{dim}', header = true, all_varchar = true) dim
      ON g.ticker = dim."Kode"
    """
    with _con() as con:
        df = con.execute(sql).df()
    # every full-history ticker has 12 months + 1 year; late listers fewer
    _in_band("OHLCV stat rows", len(df), 0.85 * 13 * gen.N_TICKERS, 13 * gen.N_TICKERS)
    return df


def _in_band(what: str, n: int, lo: float, hi: float) -> None:
    """Guard against a generator that stops exercising the pipeline (an
    input that every filter drops, say)."""
    if not lo <= n <= hi:
        raise Mismatch(f"{what}: {n} outside the expected [{lo:.0f}, {hi:.0f}]")


OHLCV_KEYS = ["agg_type", "ticker", "period_key"]


def check_ohlcv(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    _frames_match(actual, expected, OHLCV_KEYS)


# --- idx_upsert -------------------------------------------------------------

IDX_KEYS = ["company_code", "year", "period"]
_IDX_OUT = {  # source field -> output column (idx_transform.py naming)
    "SalesAndRevenue": "revenue", "GrossProfit": "gross_profit",
    "ProfitLossBeforeIncomeTax": "profit_before_tax", "FinanceCosts": "finance_costs",
    "ProfitLoss": "net_profit", "CashAndCashEquivalents": "cash",
    "Assets": "total_assets", "ShortTermLoans": "short_term_loans",
    "CurrentMaturitiesOfBankLoans": "current_maturities",
    "LongTermBankLoans": "long_term_borrowing", "Equity": "total_equity",
    "NetCashFlowsReceivedFromUsedInOperatingActivities": "cash_from_operations",
    "NetCashFlowsReceivedFromUsedInInvestingActivities": "cash_from_investing",
    "NetCashFlowsReceivedFromUsedInFinancingActivities": "cash_from_financing",
    "Liabilities": "total_liabilities",
    "BasicEarningsLossPerShareFromContinuingOperations": "basic_eps",
    "SellingExpenses": "selling_expenses",
    "GeneralAndAdministrativeExpenses": "g_and_a_expenses",
    "CurrentAssets": "current_assets", "CurrentLiabilities": "current_liabilities",
}


def _idx_transform_sql(path: str) -> str:
    """idx_transform.process_financial_data in SQL: unparseable numbers
    become NULL, NULLs become 0, then derived columns and ratios with
    NULL on a zero denominator."""
    struct = ", ".join(f"{f} VARCHAR" for f in gen.TEXT_FIELDS + gen.NUMERIC_FIELDS)
    cols = (
        "{'company_code': 'VARCHAR', 'year': 'INTEGER', 'period': 'VARCHAR', "
        f"'data': 'STRUCT({struct})'}}"
    )
    nums = ", ".join(
        f"coalesce(TRY_CAST(data.{f} AS DOUBLE), 0) AS {c}" for f, c in _IDX_OUT.items()
    )
    return f"""
    SELECT company_code, year, period, company_name, sector, subsector,
      revenue, gross_profit, profit_before_tax - finance_costs AS operating_profit,
      net_profit, cash, total_assets, short_term_loans AS short_term_borrowing,
      long_term_borrowing, total_equity, cash_from_operations, cash_from_investing,
      cash_from_financing, total_liabilities,
      profit_before_tax + finance_costs AS ebitda, basic_eps, selling_expenses,
      g_and_a_expenses, selling_expenses + g_and_a_expenses AS operating_expenses,
      current_assets, current_liabilities,
      current_assets / nullif(current_liabilities, 0) AS current_ratio,
      total_assets / nullif(total_equity, 0) AS asset_to_equity_ratio,
      total_liabilities / nullif(total_equity, 0) AS debt_to_equity_ratio,
      gross_profit / nullif(revenue, 0) * 100 AS gross_margin_pct,
      (profit_before_tax - finance_costs) / nullif(revenue, 0) * 100
        AS operating_margin_pct,
      net_profit / nullif(revenue, 0) * 100 AS net_margin_pct
    FROM (
      SELECT company_code, year, period, data.EntityName AS company_name,
        data.Sector AS sector, data.Subsector AS subsector, {nums}
      FROM read_json('{path}', format = 'newline_delimited', columns = {cols}))
    """


def idx_reference(in_dir: str) -> pd.DataFrame:
    """The table after upserting the batch into the base: batch rows
    replace base rows with the same key, other base rows stay."""
    base = _idx_transform_sql(os.path.join(in_dir, "base", "reports.jsonl"))
    batch = _idx_transform_sql(os.path.join(in_dir, "batch", "reports.jsonl"))
    keys = ", ".join(IDX_KEYS)
    sql = f"""
    WITH b AS ({base}), u AS ({batch})
    SELECT * FROM u
    UNION ALL
    SELECT * FROM b WHERE ({keys}) NOT IN (SELECT ({keys}) FROM u)
    """
    with _con() as con:
        df = con.execute(sql).df()
    n_base = round(gen.BASE_SHARE * gen.N_COMPANIES * len(gen.BASE_YEARS) * len(gen.PERIODS))
    _in_band("upserted IDX rows", len(df), n_base + gen.N_COMPANIES, n_base + gen.N_COMPANIES)
    return df


def read_idx_table(path: str) -> pd.DataFrame:
    """The upserted parquet table as it lies on disk (year from the
    hive partition directories)."""
    with _con() as con:
        df = con.execute(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        ).df()
    df["year"] = df["year"].astype(np.int64)
    return df


def check_idx(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    if actual.duplicated(IDX_KEYS).any():
        raise Mismatch("duplicate keys in the upserted table")
    _frames_match(actual, expected.astype({"year": np.int64}), IDX_KEYS)


# --- news_dedup_summarize ----------------------------------------------------

_WS = re.compile(r"\s+", re.ASCII)
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)
_DIGIT = re.compile(r"[0-9]")
_BPE = re.compile(r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]", re.ASCII)
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "en": ["the", "a", "of", "and", "is", "in", "to", "it"],
    "es": ["el", "la", "de", "y", "es", "en", "un", "que"],
    "fr": ["le", "la", "de", "et", "est", "en", "un", "que"],
    "id": ["yang", "dan", "di", "ini", "itu", "dengan", "untuk", "tidak"],
}
JACCARD = 0.5
MIN_QUALITY = 0.55
MINHASH_K = 8
LSH_BANDS = 4
CHUNK_TOKENS = 1024
SUMMARY_WORDS = 250 // 5  # extractive stub: first max_length // 5 words
CHUNK_SUMMARY_WORDS = 512 // 5
KEPT_BAND = (0.60, 0.80)  # share of generated docs expected to survive


def _shingles(text: str) -> set[str]:
    w = _WS.split(text.strip(" "))
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _lsh_candidates(sets: dict[int, set[str]]) -> set[tuple[int, int]]:
    """Candidate pairs of the k=8 / 4-band minhash scheme, with each
    minhash = min over shingles of md5('seed:shingle') (hex order)."""
    rows = [(i, s) for i, ss in sets.items() for s in ss]
    df = pd.DataFrame(rows, columns=["doc_id", "shingle"])
    hashes = ", ".join(
        f"min(md5('{k}:' || shingle)) AS h{k}" for k in range(MINHASH_K)
    )
    per = MINHASH_K // LSH_BANDS
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"h{b * per + j}" for j in range(per))
        + ") AS key FROM sig"
        for b in range(LSH_BANDS)
    )
    sql = f"""
    WITH sig AS (SELECT doc_id, {hashes} FROM df GROUP BY doc_id),
    bk AS ({bands})
    SELECT DISTINCT a.doc_id, b.doc_id FROM bk a JOIN bk b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """
    with _con() as con:
        con.register("df", df)
        return {(int(a), int(b)) for a, b in con.execute(sql).fetchall()}


def _quality(text: str) -> float:
    t = text.strip(" ")
    n = len(t)
    punct = n - len(_PUNCT.sub("", t))
    digits = n - len(_DIGIT.sub("", t))
    words = _WS.split(t.lower())
    stop = sum(w in STOPWORDS["en"] for w in words) / len(words)
    return (1.0 - min(1.0, punct / n * 4) - min(0.5, digits / n * 2)) * (
        0.5 + min(0.5, stop)
    )


def _lang(text: str) -> str:
    words = _WS.split(text.strip(" ").lower())
    hits, lang = min((-sum(w in ws for w in words), lang) for lang, ws in
                     sorted(STOPWORDS.items()))
    return lang if hits < 0 else "und"


def _first_words(text: str, n: int) -> str:
    return " ".join(text.split()[:n])


def summary(text: str | None) -> str:
    """The reference's split-merge rule with the extractive stub model:
    texts up to CHUNK_TOKENS whitespace tokens are summarized directly;
    longer ones are cut at '.' into greedily packed chunks, each chunk
    summarized, and the joined chunk summaries summarized again."""
    text = (text or "").strip()
    if not text:
        return ""
    if len(text.split()) <= CHUNK_TOKENS:
        return _first_words(text, SUMMARY_WORDS)
    chunks, cur, cur_n = [], [], 0
    for s in (s.strip() + "." for s in text.split(".") if s.strip()):
        n = len(s.split())
        if cur_n + n > CHUNK_TOKENS:
            chunks.append(" ".join(cur))
            cur, cur_n = [s], n
        else:
            cur.append(s)
            cur_n += n
    if cur:
        chunks.append(" ".join(cur))
    merged = " ".join(_first_words(c, CHUNK_SUMMARY_WORDS) for c in chunks)
    return _first_words(merged, SUMMARY_WORDS)


def news_reference(in_dir: str) -> dict:
    """Exact dedup (min id per md5 of case-folded, space-collapsed text)
    → near-dup removal (LSH candidates verified at Jaccard ≥ 0.5 over
    word 3-shingles; the larger id of each pair goes) → quality and
    English-language filters → summaries and a 1..N index by doc_id."""
    table = pq.read_table(os.path.join(in_dir, "news.parquet")).to_pydict()
    texts = dict(zip(table["doc_id"], table["text"]))
    first: dict[str, int] = {}
    for i in sorted(texts):
        norm = _WS.sub(" ", texts[i].strip(" ").lower())
        first.setdefault(hashlib.md5(norm.encode()).hexdigest(), i)
    survivors = set(first.values())
    sets = {i: s for i in survivors if (s := _shingles(texts[i]))}
    cands = _lsh_candidates(sets)
    verified = {
        (a, b) for a, b in cands
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= JACCARD
    }
    deduped = survivors - {b for _, b in verified}
    kept = sorted(
        i for i in deduped
        if _quality(texts[i]) >= MIN_QUALITY and _lang(texts[i]) == "en"
    )
    rows = []
    for n, i in enumerate(kept, 1):
        t = texts[i]
        s = t.strip(" ")
        rows.append({
            "index": n, "doc_id": i, "text": t, "lang_pred": "en",
            "quality_score": _quality(t),
            "n_tokens_ws": len(_WS.split(s)) if s else 0,
            "n_tokens_bpe": len(_BPE.findall(s)),
            "rangkuman": summary(t),
        })
    _in_band("kept news docs", len(rows), *(f * len(texts) for f in KEPT_BAND))
    return {
        "frame": pd.DataFrame(rows),
        "exact_survivors": len(survivors),
        "lsh_candidates": len(cands),
        "verified_pairs": len(verified),
        "deduped": len(deduped),
        "long_docs": sum(len(texts[i].split()) > CHUNK_TOKENS for i in kept),
    }


def check_news(actual: pd.DataFrame, expected: dict) -> None:
    _frames_match(actual, expected["frame"], ["doc_id"])


# --- ann_serve ----------------------------------------------------------------

ANN_K = 10
NPROBE = 2
RECALL_FLOOR = 0.5  # below this the index no longer finds the clusters


def _unit(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.float64)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _top(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Column indices of the k best scores per row: cosine descending,
    ties on the smaller id."""
    order = np.lexsort((np.broadcast_to(ids, scores.shape), -scores), axis=1)
    return order[:, :k]


def ann_exact(in_dir: str) -> dict:
    """Exact cosine top-ANN_K corpus ids of every pool query, by numpy."""
    table = pq.read_table(os.path.join(in_dir, "corpus.parquet"))
    ids = table.column("vec_id").to_numpy()
    corpus = np.stack(table.column("embedding").to_numpy(zero_copy_only=False))
    queries = np.load(os.path.join(in_dir, "queries.npy"))
    scores = _unit(queries) @ _unit(corpus).T
    return {"ids": ids, "corpus": corpus, "queries": queries,
            "exact": ids[_top(scores, ids, ANN_K)]}


class IvfReference:
    """What ivf_topk_from_index must return, computed in numpy from the
    index artifact's centroids: the inverted file must hold every corpus
    vector once, in the cell of its most similar centroid; each query
    probes its NPROBE most similar cells, and its answer is the exact
    top-ANN_K among those cells' vectors."""

    def __init__(self, index_dir: str, ref: dict):
        import pyarrow.dataset as ds

        cents = pq.read_table(os.path.join(index_dir, "centroids")).sort_by("cid")
        self.cids = cents.column("cid").to_numpy()
        self.cvecs = _unit(np.stack(cents.column("cvec").to_numpy(zero_copy_only=False)))
        inv = ds.dataset(os.path.join(index_dir, "invfile"), partitioning="hive").to_table(
            columns=["cid", "nbr_id"])
        cell_of = dict(zip(inv.column("nbr_id").to_pylist(), inv.column("cid").to_pylist()))
        ids, corpus = ref["ids"], ref["corpus"]
        if inv.num_rows != len(ids) or set(cell_of) != set(ids.tolist()):
            raise Mismatch("the inverted file does not hold every corpus vector once")
        nearest = self.cids[_top(_unit(corpus) @ self.cvecs.T, self.cids, 1)[:, 0]]
        if any(cell_of[i] != c for i, c in zip(ids.tolist(), nearest.tolist())):
            raise Mismatch("a corpus vector sits outside its nearest centroid's cell")
        self.cell = nearest
        self.ref = ref

    def answer(self, rows: np.ndarray) -> pd.DataFrame:
        """(query_id, nbr_id, cosine, rk) for the pool rows ``rows``."""
        ids, unit_corpus = self.ref["ids"], _unit(self.ref["corpus"])
        q = _unit(self.ref["queries"][rows])
        probed = self.cids[_top(q @ self.cvecs.T, self.cids, NPROBE)]
        out = []
        for qi, row in enumerate(rows.tolist()):
            cand = np.flatnonzero(np.isin(self.cell, probed[qi]))
            scores = unit_corpus[cand] @ q[qi]
            best = _top(scores[None, :], ids[cand], ANN_K)[0]
            for rk, j in enumerate(best.tolist(), 1):
                out.append((gen.QUERY_ID_BASE + row, int(ids[cand[j]]),
                            round(float(scores[j]), 9), rk))
        return pd.DataFrame(out, columns=["query_id", "nbr_id", "cosine", "rk"])


ANN_KEYS = ["query_id", "rk"]


def check_ann(actual: pd.DataFrame, expected: pd.DataFrame) -> None:
    _frames_match(actual, expected, ANN_KEYS)


def recall(actual: pd.DataFrame, exact: np.ndarray, rows: np.ndarray) -> list[float]:
    """Per query, the share of its exact top-ANN_K that ``actual`` returned."""
    got = actual.groupby("query_id")["nbr_id"].apply(set)
    return [
        len(got.get(gen.QUERY_ID_BASE + r, set()) & set(exact[r].tolist())) / ANN_K
        for r in rows.tolist()
    ]

"""Self-tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/selftest.py -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

import gen
import reference as ref
from canon import frame_hash
from probes import RssSampler, tree_rss
from spans import Tracer


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_seed_determines_input_bytes(workload, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.generate(workload, 7, a) == gen.generate(workload, 7, b)
    gen.generate(workload, 8, c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    for w in gen.GENERATORS:
        gen.generate(w, 3, str(root / w))
    return root


def test_ohlcv_check_rejects_perturbed_output(inputs):
    expected = ref.ohlcv_reference(str(inputs / "ohlcv_rollup"))
    ref.check_ohlcv(expected.copy(), expected)
    bad = expected.copy()
    bad.loc[17, "stddev_close"] *= 1 + 1e-5
    with pytest.raises(ref.Mismatch):
        ref.check_ohlcv(bad, expected)
    with pytest.raises(ref.Mismatch):
        ref.check_ohlcv(expected.drop(index=3), expected)


def test_idx_check_rejects_perturbed_output(inputs):
    expected = ref.idx_reference(str(inputs / "idx_upsert"))
    ref.check_idx(expected.copy(), expected)
    stale = expected.copy()
    stale.loc[0, "net_margin_pct"] = 12.5
    with pytest.raises(ref.Mismatch):
        ref.check_idx(stale, expected)
    with pytest.raises(ref.Mismatch):  # a key written twice
        ref.check_idx(pd.concat([expected, expected.iloc[:1]]), expected)


def test_news_reference_and_check(inputs):
    expected = ref.news_reference(str(inputs / "news_dedup_summarize"))
    frame = expected["frame"]
    assert expected["verified_pairs"] > 0 and expected["long_docs"] > 0
    assert frame["index"].tolist() == list(range(1, len(frame) + 1))
    ref.check_news(frame.copy(), expected)
    bad = frame.copy()
    bad.loc[5, "rangkuman"] += " extra"
    with pytest.raises(ref.Mismatch):
        ref.check_news(bad, expected)


def _fake_ivf_index(root, ref_data, n_cells=8):
    """An index artifact laid out as ivf_build_index writes it, with
    every vector in its nearest centroid's cell."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cvecs = ref_data["corpus"][:n_cells].astype(np.float64)
    unit = cvecs / np.linalg.norm(cvecs, axis=1, keepdims=True)
    corpus = ref_data["corpus"] / np.linalg.norm(ref_data["corpus"], axis=1, keepdims=True)
    cell = np.argmax(corpus @ unit.T, axis=1)
    os.makedirs(root / "centroids")
    pq.write_table(pa.table({"cid": np.arange(n_cells), "cvec": list(cvecs)}),
                   root / "centroids" / "part-0.parquet")
    for c in range(n_cells):
        d = root / "invfile" / f"cid={c}"
        os.makedirs(d)
        members = np.flatnonzero(cell == c)
        pq.write_table(pa.table({"nbr_id": ref_data["ids"][members]}), d / "part-0.parquet")


def test_ann_reference_and_check(inputs, tmp_path):
    exact = ref.ann_exact(str(inputs / "ann_serve"))
    _fake_ivf_index(tmp_path, exact)
    ivf = ref.IvfReference(str(tmp_path), exact)
    rows = np.arange(32, 64)
    answer = ivf.answer(rows)
    assert len(answer) == len(rows) * ref.ANN_K
    ref.check_ann(answer.copy(), answer)
    recalls = ref.recall(answer, exact["exact"], rows)
    assert len(recalls) == len(rows) and 0.5 < sum(recalls) / len(recalls) <= 1.0
    swapped = answer.copy()
    swapped.loc[3, "nbr_id"] = swapped.loc[4, "nbr_id"]
    with pytest.raises(ref.Mismatch):
        ref.check_ann(swapped, answer)
    with pytest.raises(ref.Mismatch):
        ref.check_ann(answer.iloc[1:], answer)


def test_summary_split_merge_rule():
    short = "Alpha beta. " * 10
    assert ref.summary(short) == " ".join(short.split()[:50])
    long_text = " ".join(f"w{i} x." for i in range(700))  # 1400 tokens
    first_chunk = " ".join(f"w{i} x." for i in range(512))
    assert ref.summary(long_text) == " ".join(first_chunk.split()[:102][:50])
    assert ref.summary("   ") == ""


def test_frame_hash_ignores_row_order_and_float_noise():
    df = pd.DataFrame({"k": [2, 1, 3], "v": [0.1 + 0.2, 1e9 + 0.3, np.nan], "s": ["a", None, "c"]})
    noisy = df.iloc[::-1].copy()
    noisy["v"] = noisy["v"] * (1 + 1e-15)
    assert frame_hash(df, ["k"]) == frame_hash(noisy, ["k"])
    changed = df.copy()
    changed.loc[0, "v"] = 0.31
    assert frame_hash(df, ["k"]) != frame_hash(changed, ["k"])


def test_rss_sampler_covers_grandchildren():
    """A grandchild (as Spark's Python workers are of the benchmark)
    holding 200 MB shows up in the sampled tree."""
    code = (
        "import subprocess, sys; subprocess.run([sys.executable, '-c', "
        "\"b = bytearray(200 * 2**20); import time; time.sleep(3)\"])"
    )
    with RssSampler() as sampler:
        proc = subprocess.Popen([sys.executable, "-c", code])
        deadline = time.monotonic() + 10
        while tree_rss(os.getpid()) < 200 * 2**20 and time.monotonic() < deadline:
            time.sleep(0.05)
        proc.wait(timeout=30)
    assert sampler.peak >= 200 * 2**20


def test_span_self_time():
    tr = Tracer("t")
    with tr.span("job", spark_jobs=False):
        with tr.span("a"):
            time.sleep(0.02)
        time.sleep(0.02)
    job, a = tr.spans
    assert a.parent == 0 and job.parent is None
    assert 0.015 < tr.self_seconds(0) < job.seconds - a.seconds + 1e-9

"""Property-based tests for the round-2 pure kernels (no Spark session —
these are the per-row functions the Arrow UDFs and the golden-fixture
generator share)."""

import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deduce_spark.spark.dedup import simhash64
from deduce_spark.spark.multimodal import decode_wav
from deduce_spark.spark.textstats import winnow_doc

_words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=40
)


@given(_words)
@settings(max_examples=60, deadline=None)
def test_simhash_is_word_order_invariant(words):
    # simhash sums per-word bit vectors: any permutation hashes identically
    base = simhash64(" ".join(words))
    rev = simhash64(" ".join(reversed(words)))
    assert base == rev


@given(st.text(alphabet="abcdef ", min_size=0, max_size=300))
@settings(max_examples=60, deadline=None)
def test_winnow_every_window_is_covered(text):
    """The winnowing guarantee (Schleimer et al.): with k=8, window=4,
    every run of window consecutive k-grams contributes >= 1 selected
    fingerprint — no gap longer than window+k-1 chars goes unfingerprinted."""
    k, window = 8, 4
    prints = winnow_doc(text, k=k, window=window)
    data = text.lower().encode("utf-8", "replace")
    n = len(data) - k + 1
    if n < 1:
        return
    # recompute the rolling hashes the same way and check window coverage
    # replicate the kernel's masked arithmetic EXACTLY: the mask is applied
    # inside every step (python ints: & mask == the uint64+mask combination
    # since 2^64 is a multiple of 2^61)
    base, mask = 1000003, (1 << 61) - 1
    h = []
    acc = 0
    for j in range(k):
        acc = (acc * base + data[j]) & mask
    h.append(acc)
    top = base
    for _ in range(1, k):
        top = (top * base) & mask
    for i in range(1, n):
        acc = (acc * base + data[i + k - 1] - data[i - 1] * top) & mask
        h.append(acc)
    sel = set(prints)
    if n <= window:
        assert min(h) in sel
        return
    for i in range(n - window + 1):
        assert any(x in sel for x in h[i : i + window])


@given(st.lists(st.integers(-32768, 32767), min_size=0, max_size=200),
       st.sampled_from([8000, 16000, 44100]))
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_arbitrary_samples(samples, sr):
    data = np.array(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    got_sr, ch, bits, got = decode_wav(blob)
    assert (got_sr, ch, bits) == (sr, 1, 16)
    assert got.tolist() == samples

"""Model I/O: the packaged model survives a save/load round trip table for
table and answers identically, and every table is required at load."""

import dataclasses

import numpy as np
import pytest

from cld2_spark.kernels.detect import detect_batch
from cld2_spark.kernels.model import Cld2sModel, default_model

# one row per scoring path: Latin quads + words, the non-Latin quad
# scripts (shared ring bank), RTypeOne Hangul, and the CJK unigram/bigram
# pass; plus the empty, control-only and invalid-UTF-8-marker rows
TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "быстрая коричневая лиса прыгает через ленивую собаку у реки",
    "η γρήγορη καφέ αλεπού πηδάει πάνω από τον τεμπέλη σκύλο",
    "الثعلب البني السريع يقفز فوق الكلب الكسول بجانب النهر",
    "敏捷的棕色狐狸跳过了河边那只懒惰的狗",
    "すばやいちゃいろのきつねがのろまないぬをとびこえた",
    "빠른 갈색 여우가 게으른 개를 뛰어넘었다",
    "",
    "\x0b",
    "�",
]

# one key per required table (plus the backoff name list)
REQUIRED_KEYS = ["rwd_keys", "rwx_keys", "rcb_keys", "rcu_cps", "tri_keys",
                 "backoff_names", "closest_alt", "htf_keys"]


def _assert_same(a, b, where="model"):
    if isinstance(a, np.ndarray):
        assert a.dtype == b.dtype and np.array_equal(a, b), where
    elif dataclasses.is_dataclass(a):
        for f in dataclasses.fields(a):
            _assert_same(getattr(a, f.name), getattr(b, f.name),
                         f"{where}.{f.name}")
    elif isinstance(a, dict):
        assert a.keys() == b.keys(), where
        for k in a:
            _assert_same(a[k], b[k], f"{where}[{k!r}]")
    else:
        assert a == b, where


def _packaged_arrays() -> dict[str, np.ndarray]:
    from importlib import resources
    path = resources.files("cld2_spark") / "model" / "cld2s_model.npz"
    with np.load(str(path), allow_pickle=False) as z:
        return {k: z[k] for k in z.files}


def test_save_load_roundtrip(tmp_path):
    model = default_model()
    path = tmp_path / "model.npz"
    model.save(str(path))
    loaded = Cld2sModel.load(str(path))
    _assert_same(model, loaded)

    for kw in ({}, {"best_effort": True}, {"return_spans": True}):
        want = detect_batch(TEXTS, model, **kw)
        got = detect_batch(TEXTS, loaded, **kw)
        assert want.keys() == got.keys()
        for k in want:
            assert np.array_equal(np.asarray(want[k]), np.asarray(got[k])), k


@pytest.mark.parametrize("key", REQUIRED_KEYS)
def test_missing_table_fails_at_load(tmp_path, key):
    arrs = _packaged_arrays()
    del arrs[key]
    path = tmp_path / "partial.npz"
    np.savez(path, **arrs)
    with pytest.raises(KeyError, match=key):
        Cld2sModel.load(str(path))

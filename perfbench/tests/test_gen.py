"""The generators are pure functions of their seed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_classify_texts_repeat_share_and_determinism():
    a = gen.classify_texts(7, 2000)
    assert a == gen.classify_texts(7, 2000)
    assert a != gen.classify_texts(8, 2000)
    assert len(set(a)) == 2000 - round(gen.REPEAT_SHARE * 2000)
    lengths = [len(t.split(" ")) for t in a]
    assert gen.LEN_WORDS[0] <= min(lengths) and max(lengths) <= gen.LEN_WORDS[1]


def test_written_inputs_are_byte_identical_per_seed(tmp_path):
    for seed, tag in ((3, "a"), (3, "b"), (4, "c")):
        root = tmp_path / tag
        gen.write_classify(seed, 500, str(root / "bulk"), files=4)
        gen.write_curation(seed, 300, str(root / "curate"))
        gen.write_stream(seed, 50, (2, 1), 4, str(root / "stream"))
    a, b, c = (_files(str(tmp_path / t)) for t in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_curation_truth_is_deterministic_and_disjoint():
    _docs, _emb, truth = gen.curation_corpus(5, 600)
    assert truth == gen.curation_corpus(5, 600)[2]
    planted = truth["probe"] + truth["contaminants"] + truth["low_quality"] + truth["short"]
    planted += [d for g in truth["clusters"] + truth["boilerplate"] + truth["twins"] for d in g]
    assert len(planted) == len(set(planted))
    assert all(len(g) >= 2 for g in truth["clusters"])


def test_stream_truth_splits_planted_and_novel(tmp_path):
    s = gen.write_stream(9, 40, (2, 1), 4, str(tmp_path))
    assert [len(w) for w in s["waves"]] == [2, 1, 1]
    assert len(s["planted"]) == len(s["novel"]) == 6
    assert s["post_merge_of"] in s["novel"]
    assert gen.stream_inputs(9, 40, (2, 1), 4) == gen.stream_inputs(9, 40, (2, 1), 4)

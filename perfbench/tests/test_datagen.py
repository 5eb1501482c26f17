"""Seeded generators: the same seed gives the same inputs."""

import json

import pyarrow.parquet as pq

from perfbench import datagen


def test_corpus_is_deterministic_and_seed_dependent():
    assert datagen.corpus(7, 300) == datagen.corpus(7, 300)
    assert datagen.corpus(7, 300) != datagen.corpus(8, 300)
    texts = datagen.corpus(7, 2000)
    dups = [t for t in texts if t.endswith(" dup")]
    assert 0.02 < len(dups) / len(texts) < 0.09
    assert all(t[: -len(" dup")] in texts for t in dups)


def _lines(seed, n):
    mix = datagen.PostMix(seed, datagen.corpus(seed, 500), tag="t")
    return mix, mix.take(n, [1.7e9 + i / 270 for i in range(n)])


def test_post_mix_is_deterministic():
    _, a = _lines(3, 3000)
    _, b = _lines(3, 3000)
    _, c = _lines(4, 3000)
    assert [p.line for p in a] == [p.line for p in b]
    assert [p.line for p in a] != [p.line for p in c]


def test_post_mix_kinds():
    mix, posts = _lines(5, 20000)
    n = len(posts)
    assert 0.03 < mix.counts["redelivery"] / n < 0.07
    assert 0.005 < (mix.counts["malformed"] + mix.counts["empty"]) / n < 0.02
    fresh_keys = set()
    for p in posts:
        if p.kind == "fresh":
            d = json.loads(p.line)
            assert (d["uri"], d["cid"]) == p.key
            assert p.key not in fresh_keys
            fresh_keys.add(p.key)
        elif p.kind == "redelivery":
            assert p.key in fresh_keys          # an earlier post, resent
        elif p.kind == "malformed":
            try:
                json.loads(p.line)
                raise AssertionError("malformed payload parsed")
            except json.JSONDecodeError:
                pass
        else:
            assert p.line.strip() == ""
    fields = {k for p in posts if p.kind == "fresh"
              for k in json.loads(p.line)}
    assert {"text", "record", "content", "body", "message"} <= fields
    assert any(p.kind == "fresh" and p.text is None for p in posts)
    expected = mix.expected_keys({p.text for p in posts if p.text})
    assert len(expected) == sum(1 for p in mix.fresh if p.text)


def test_tables_are_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows = datagen.write_tables(str(a), 11, 0.001)
    datagen.write_tables(str(b), 11, 0.001)
    assert rows["lineitem"] == 6000 and rows["region"] == 5
    for name in rows:
        ta = pq.read_table(a / f"{name}.parquet")
        assert ta.equals(pq.read_table(b / f"{name}.parquet")), name
        assert ta.num_rows == rows[name]

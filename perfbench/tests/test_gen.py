import os

import pytest

from perfbench import gen

SMALL = {
    "etl": lambda seed, root: gen.etl_sync(seed, root, rows=2_000, rounds=2, tar_scale=50,
                                           payload_chars=16),
    "corpus": lambda seed, root: gen.corpus(seed, root, docs=400, bench_passages=10),
    "vectors": lambda seed, root: gen.vectors(seed, root, n=500, dim=8, clusters=4, batch=20),
}


def tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _sub, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_gives_identical_bytes(tmp_path, kind):
    SMALL[kind](7, str(tmp_path / "a"))
    SMALL[kind](7, str(tmp_path / "b"))
    a, b = tree(str(tmp_path / "a")), tree(str(tmp_path / "b"))
    assert a and a == b


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_other_seed_gives_other_inputs(tmp_path, kind):
    SMALL[kind](7, str(tmp_path / "a"))
    SMALL[kind](8, str(tmp_path / "b"))
    a, b = tree(str(tmp_path / "a")), tree(str(tmp_path / "b"))
    assert sorted(a) == sorted(b)
    assert all(a[name] != b[name] for name in a if name.endswith((".parquet", ".tar")))


def test_vector_streams_are_seeded():
    s1 = gen.VectorSpace(3, n=100, dim=4, clusters=2, batch=5)
    s2 = gen.VectorSpace(3, n=100, dim=4, clusters=2, batch=5)
    assert (s1.batch_vectors(2)[1] == s2.batch_vectors(2)[1]).all()
    assert (s1.queries(4, 3)[1] == s2.queries(4, 3)[1]).all()
    assert not (s1.queries(4, 3)[1] == s1.queries(5, 3)[1]).all()


def test_etl_rounds_match_planted_changes(tmp_path):
    truth = SMALL["etl"](1, str(tmp_path))
    for r in truth["rounds"]:
        assert r["rows_added"] == 40 + 10 and r["rows_deleted"] == 10
        assert r["rows"] == 2_000

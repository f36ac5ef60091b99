"""Each checker passes the right output and fails a corrupted one."""

import io
import os
import tarfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq
import pytest

from perfbench import check, gen


def test_etl_table_flipped_value(tmp_path):
    snaps = gen.EtlSnapshots(1, 500, payload_chars=8)
    snaps.advance()
    want = snaps.table()
    assert check.etl_table(want, want) == ([], 1.0)
    amount = want.column("amount").to_numpy().copy()
    amount[17] += 1
    got = want.set_column(2, "amount", pa.array(amount))
    problems, share = check.etl_table(got, want)
    assert problems == ["column amount: 1 rows differ"] and share == pytest.approx(499 / 500)


def test_etl_report_wrong_counts():
    class Report:
        rows_added, rows_deleted = 12, 3

    assert check.etl_report(Report, {"rows_added": 12, "rows_deleted": 3}) == []
    assert check.etl_report(Report, {"rows_added": 12, "rows_deleted": 4})


def _ingest_like_spark(tmp_path, flip: bool) -> tuple[dict, str, dict]:
    truth = gen.etl_sync(1, str(tmp_path / "in"), rows=100, rounds=1, tar_scale=20,
                         payload_chars=4)
    dest = str(tmp_path / "out")
    with tarfile.open(tmp_path / "in" / truth["tar"]) as tf:
        for m in tf.getmembers():
            name = "cb_" + os.path.basename(m.name).split(".")[0]
            t = pcsv.read_csv(io.BytesIO(tf.extractfile(m).read()))
            if flip and name == "cb_orders":
                amount = t.column("amount").to_numpy().copy()
                amount[0] += 0.01
                t = t.set_column(2, "amount", pa.array(amount))
            os.makedirs(os.path.join(dest, name))
            pq.write_table(t, os.path.join(dest, name, "part-0.parquet"))
    return {k: None for k in truth["tables"]}, dest, truth["tables"]


def test_ingested_tables(tmp_path):
    assert check.ingested(*_ingest_like_spark(tmp_path / "ok", flip=False)) == []
    problems = check.ingested(*_ingest_like_spark(tmp_path / "bad", flip=True))
    assert len(problems) == 1 and problems[0].startswith("cb_orders.amount_cents=")


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    return gen.corpus(5, str(tmp_path_factory.mktemp("corpus")), docs=500, bench_passages=10)


def _canonical(truth, ids):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array([truth["texts"][i] for i in ids])})


def test_near_dedup_surviving_duplicate(corpus):
    copies = set(corpus["exact_copies"]) | set(corpus["near_copies"])
    ids = [i for i in range(corpus["n_docs"]) if i not in copies]
    assert check.near_dedup(_canonical(corpus, ids), corpus) == ([], 1.0)
    problems, _ = check.near_dedup(_canonical(corpus, ids + corpus["exact_copies"][:1]), corpus)
    assert problems == ["1 exact copies survived"]


def test_near_dedup_recall_counts_missed_near_copies(corpus):
    copies = set(corpus["exact_copies"]) | set(corpus["near_copies"][1:])
    ids = [i for i in range(corpus["n_docs"]) if i not in copies]
    problems, recall = check.near_dedup(_canonical(corpus, ids), corpus)
    assert problems == [] and recall == 1 - 1 / len(corpus["near_copies"])


def _prepared(truth, flip_row=None):
    drop = set(truth["exact_copies"]) | set(truth["low_quality"]) | set(truth["contaminated"])
    ids = [i for i in range(truth["n_docs"]) if i not in drop]
    pii = truth["pii"]
    cols = {
        "doc_id": ids,
        "n_emails": [pii.get(str(i), (0, 0, ""))[0] for i in ids],
        "n_phones": [pii.get(str(i), (0, 0, ""))[1] for i in ids],
        "text_redacted": [pii[str(i)][2] if str(i) in pii else truth["texts"][i] for i in ids],
        "n_tokens": [truth["n_tokens"][i] for i in ids],
    }
    if flip_row is not None:
        cols["n_emails"][flip_row] += 1
    return pa.table(cols)


def test_prepared_flipped_value(corpus):
    assert corpus["pii"]
    assert check.prepared(_prepared(corpus), corpus) == []
    assert check.prepared(_prepared(corpus, flip_row=3), corpus) == ["n_emails: 1 rows differ"]


def test_appended_missing_vector():
    store = np.arange(100, dtype=np.int64)
    batch = np.arange(90, 110, dtype=np.int64)
    assert check.appended(np.concatenate([store, np.arange(100, 110)]), batch) == []
    assert check.appended(np.concatenate([store, np.arange(100, 109)]), batch) == [
        "1 appended vectors missing from the store"]


def test_probe_flipped_similarity():
    space = gen.VectorSpace(2, n=300, dim=8, clusters=4, batch=10)
    store = space.base()
    ids = np.arange(300, dtype=np.int64)
    qids, q = space.queries(0, 3)
    exact = gen.exact_topk(ids, store, q, 5)
    rows = []
    for qid, qv, top in zip(qids, q, exact):
        for rank, vid in enumerate(top, 1):
            v = store[vid].astype(np.float64)
            rows.append((qid, vid, float(v @ qv / np.linalg.norm(v) / np.linalg.norm(qv)), rank))
    result = pd.DataFrame(rows, columns=["query_id", "vec_id", "cos_sim", "rank"])
    live = dict(zip(ids.tolist(), range(300)))
    assert check.probe(result, qids, q, live, store, 5) == []
    assert check.recall(result, qids, exact) == 1.0
    result.loc[4, "cos_sim"] += 0.01
    assert check.probe(result, qids, q, live, store, 5)

"""Output checkers. Each returns a list of problems; an empty list is a
pass. They read what the program wrote with pyarrow and compare it with
the generator's planted truth, so they share no code with the program.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds


def micros(col) -> pa.Array:
    """Timestamps of any unit (Spark writes INT96 nanos) as int64 micros."""
    scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[col.type.unit]
    ints = pc.cast(col, pa.int64())
    if col.type.unit == "ns":
        return pc.divide(ints, 1_000)
    return pc.multiply(ints, scale)


def read_parquet_dir(path: str, columns: list[str] | None = None) -> pa.Table:
    """A Spark-written parquet directory (hive partitions included)."""
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True).to_table(columns=columns)


# -- etl_sync -----------------------------------------------------------------


def etl_table(got: pa.Table, want: pa.Table) -> tuple[list[str], float]:
    """The synced table must equal the expected snapshot, row for row.
    Returns problems and the share of expected rows found intact."""
    if got.num_rows != want.num_rows:
        return [f"table has {got.num_rows} rows, expected {want.num_rows}"], 0.0
    problems = []
    got = got.sort_by("id")
    want = want.sort_by("id")
    intact = np.ones(want.num_rows, dtype=bool)
    for col in want.column_names:
        if col not in got.column_names:
            problems.append(f"column {col} missing")
            intact[:] = False
            continue
        a, b = got.column(col), want.column(col)
        if pa.types.is_timestamp(b.type):
            a, b = micros(a), micros(b)
        elif a.type != b.type:
            a = a.cast(b.type)
        same = pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)
        if not same.all():
            problems.append(f"column {col}: {int((~same).sum())} rows differ")
        intact &= same
    return problems, float(intact.mean())


def etl_report(report, want: dict) -> list[str]:
    """``upsert_sync``'s run report against the round's planted changes."""
    problems = []
    for key in ("rows_added", "rows_deleted"):
        if getattr(report, key) != want[key]:
            problems.append(f"{key}={getattr(report, key)}, expected {want[key]}")
    return problems


def ingested(tables: dict, dest_dir: str, truth: dict) -> list[str]:
    """Each tarball member became its table with every row and value."""
    problems = []
    if sorted(tables) != sorted(truth):
        return [f"tables {sorted(tables)}, expected {sorted(truth)}"]
    for name, want in truth.items():
        t = read_parquet_dir(os.path.join(dest_dir, name))
        id_col = f"{name[len('cb_'):]}_id"
        created = micros(t.column("created_at"))
        got = {
            "rows": t.num_rows,
            "id_sum": pc.sum(t.column(id_col)).as_py(),
            "ref_sum": pc.sum(t.column("ref_id")).as_py(),
            "amount_cents": int(round(pc.sum(t.column("amount")).as_py() * 100)),
            "created_min_s": pc.min(created).as_py() // 1_000_000,
            "created_max_s": pc.max(created).as_py() // 1_000_000,
        }
        for key, value in want.items():
            if got[key] != value:
                problems.append(f"{name}.{key}={got[key]}, expected {value}")
    return problems


# -- corpus_prep --------------------------------------------------------------


def near_dedup(got: pa.Table, truth: dict) -> tuple[list[str], float]:
    """The canonical corpus keeps every doc outside the planted clusters
    unchanged, drops every exact copy, and drops nothing else but planted
    near-duplicate copies. Returns problems and the near-dup recall."""
    ids = got.column("doc_id").to_numpy()
    problems = []
    if len(np.unique(ids)) != len(ids):
        problems.append("duplicate doc_id in output")
    removed = set(range(truth["n_docs"])) - set(ids.tolist())
    exact, near = set(truth["exact_copies"]), set(truth["near_copies"])
    if exact - removed:
        problems.append(f"{len(exact - removed)} exact copies survived")
    if removed - exact - near:
        problems.append(f"{len(removed - exact - near)} docs removed that are no planted copy")
    texts = truth["texts"]
    changed = sum(1 for i, t in zip(ids.tolist(), got.column("text").to_pylist()) if texts[i] != t)
    if changed:
        problems.append(f"{changed} surviving docs changed text")
    return problems, len(removed & near) / max(1, len(near))


def prepared(got: pa.Table, truth: dict) -> list[str]:
    """Exact copies, low-quality and contaminated docs are gone; every
    other doc is there once with its PII counts, redacted text and token
    count."""
    drop = set(truth["exact_copies"]) | set(truth["low_quality"]) | set(truth["contaminated"])
    want_ids = sorted(set(range(truth["n_docs"])) - drop)
    ids = got.column("doc_id").to_pylist()
    if sorted(ids) != want_ids:
        missing = len(set(want_ids) - set(ids))
        extra = len(set(ids) - set(want_ids))
        return [f"prepared ids: {missing} missing, {extra} unexpected, {len(ids)} rows"]
    problems = []
    pii, texts, n_tokens = truth["pii"], truth["texts"], truth["n_tokens"]
    bad = {"n_emails": 0, "n_phones": 0, "text_redacted": 0, "n_tokens": 0}
    cols = {c: got.column(c).to_pylist() for c in bad}
    for row, i in enumerate(ids):
        emails, phones, redacted = pii.get(str(i), (0, 0, texts[i]))
        bad["n_emails"] += cols["n_emails"][row] != emails
        bad["n_phones"] += cols["n_phones"][row] != phones
        bad["text_redacted"] += cols["text_redacted"][row] != redacted
        bad["n_tokens"] += cols["n_tokens"][row] != n_tokens[i]
    problems += [f"{k}: {v} rows differ" for k, v in bad.items() if v]
    return problems


# -- vector_serve -------------------------------------------------------------


def store_ids(root: str) -> np.ndarray:
    """Vector ids in the store's live version (its pointer file names it)."""
    with open(os.path.join(root, "_current.json")) as fh:
        version = json.load(fh)["version"]
    assigned = os.path.join(root, f"v{version:08d}", "assigned")
    return read_parquet_dir(assigned, ["vec_id"]).column("vec_id").to_numpy()


def appended(ids_in_store: np.ndarray, batch_ids: np.ndarray) -> list[str]:
    """Every vector of the landed batch is in the store exactly once."""
    found = np.isin(ids_in_store, batch_ids)
    missing = len(batch_ids) - len(np.unique(ids_in_store[found]))
    problems = []
    if missing:
        problems.append(f"{missing} appended vectors missing from the store")
    if found.sum() > len(np.unique(ids_in_store[found])):
        problems.append("appended vectors stored more than once")
    return problems


def probe(result, query_ids: np.ndarray, queries: np.ndarray, live: dict[int, int],
          store: np.ndarray, k: int) -> list[str]:
    """``k`` ranked results per query, each a live vector with its true
    cosine similarity, in descending order of similarity."""
    problems = []
    for qid, q in zip(query_ids.tolist(), queries):
        rows = result[result["query_id"] == qid].sort_values("rank")
        if rows["rank"].tolist() != list(range(1, k + 1)):
            problems.append(f"query {qid}: ranks {rows['rank'].tolist()}")
            continue
        ids = rows["vec_id"].tolist()
        if len(set(ids)) != k or any(i not in live for i in ids):
            problems.append(f"query {qid}: duplicate or unknown ids")
            continue
        vecs = store[[live[i] for i in ids]].astype(np.float64)
        cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        got = rows["cos_sim"].to_numpy()
        if not np.allclose(got, cos, atol=1e-5):
            problems.append(f"query {qid}: cos_sim off by {np.abs(got - cos).max():.2e}")
        if np.any(np.diff(got) > 1e-12):
            problems.append(f"query {qid}: results not in descending order")
    return problems


def recall(result, query_ids: np.ndarray, exact: np.ndarray) -> float:
    hits = 0
    for qid, want in zip(query_ids.tolist(), exact):
        got = set(result.loc[result["query_id"] == qid, "vec_id"].tolist())
        hits += len(got & set(want.tolist()))
    return hits / exact.size

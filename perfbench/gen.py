"""Seeded input generator for the three benchmark workloads.

Every function takes the workload seed and an output directory, writes
the inputs the program reads (parquet with microsecond UTC timestamps,
CSV members in a tar archive), and returns the planted truth the
checkers in ``check.py`` compare outputs against. The same seed and
sizes give byte-identical files; the program under test never sees the
truth.
"""

from __future__ import annotations

import io
import json
import os
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
MICROS = 1_000_000
#: Round 0's anchor; round r's anchor is r hours later.
ANCHOR0_S = 1_704_110_400  # 2024-01-01 12:00:00 UTC


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _strings(rows: np.ndarray) -> pa.Array:
    """A (n, w) uint8 matrix of ASCII bytes as an arrow string column."""
    n, w = rows.shape
    offsets = np.arange(0, w * (n + 1), w, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(rows.tobytes())]
    )


def _write(table: pa.Table, path: str, row_group_size: int = 131_072) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=row_group_size)


def fmt_anchor(round_no: int) -> str:
    import time

    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ANCHOR0_S + 3600 * round_no))


# --------------------------------------------------------------------------
# etl_sync


class EtlSnapshots:
    """The source table's snapshots: snapshot 0 is what ``seed`` loads,
    snapshot r (r >= 1) is upsert round r's source. Each round moves
    ``updated_at`` into the round's one-hour window on ``update_frac`` of
    the rows, inserts new pks and drops others, so the table after round
    r must equal snapshot r exactly."""

    def __init__(self, seed: int, rows: int, payload_chars: int = 80,
                 update_frac: float = 0.02, churn_frac: float = 0.005):
        rng = _rng(seed, 1, 0)
        self.seed = seed
        self.payload_chars = payload_chars
        self.update_frac = update_frac
        self.churn_frac = churn_frac
        self.id = np.arange(rows, dtype=np.int64)
        self.grp = rng.integers(0, 1000, rows, dtype=np.int32)
        self.amount = np.round(rng.uniform(0, 10_000, rows), 2)
        self.payload = HEX[rng.integers(0, 16, (rows, payload_chars), dtype=np.uint8)]
        age = rng.integers(2 * 86_400, 30 * 86_400, rows)
        self.updated_at = (ANCHOR0_S - age) * MICROS
        self.round = 0
        self.next_id = rows
        self.rounds: list[dict] = []

    def table(self) -> pa.Table:
        return pa.table(
            {
                "id": self.id,
                "grp": self.grp,
                "amount": self.amount,
                "payload": _strings(self.payload),
                "updated_at": pa.array(self.updated_at, pa.timestamp("us", tz="UTC")),
            }
        )

    def advance(self) -> dict:
        """Apply the next round's changes; return its expected report."""
        self.round += 1
        rng = _rng(self.seed, 1, self.round)
        n = len(self.id)
        n_upd = int(n * self.update_frac)
        n_churn = int(n * self.churn_frac)
        picked = rng.choice(n, n_upd + n_churn, replace=False)
        upd, drop = picked[:n_upd], picked[n_upd:]
        anchor_us = (ANCHOR0_S + 3600 * self.round) * MICROS
        # strictly inside (anchor - 1h, anchor): no row sits on the
        # window edge, and no earlier round's row reaches into it
        in_window = lambda k: anchor_us - rng.integers(60, 3540, k) * MICROS  # noqa: E731
        self.amount[upd] = np.round(rng.uniform(0, 10_000, n_upd), 2)
        self.updated_at[upd] = in_window(n_upd)
        keep = np.ones(n, dtype=bool)
        keep[drop] = False
        new_ids = np.arange(self.next_id, self.next_id + n_churn, dtype=np.int64)
        self.next_id += n_churn
        self.id = np.concatenate([self.id[keep], new_ids])
        self.grp = np.concatenate([self.grp[keep], rng.integers(0, 1000, n_churn, dtype=np.int32)])
        self.amount = np.concatenate([self.amount[keep], np.round(rng.uniform(0, 10_000, n_churn), 2)])
        self.payload = np.concatenate(
            [self.payload[keep], HEX[rng.integers(0, 16, (n_churn, self.payload_chars), dtype=np.uint8)]]
        )
        self.updated_at = np.concatenate([self.updated_at[keep], in_window(n_churn)])
        report = {
            "round": self.round,
            "anchor": fmt_anchor(self.round),
            "rows_added": n_upd + n_churn,
            "rows_deleted": n_churn,
            "rows": len(self.id),
        }
        self.rounds.append(report)
        return report


def _tar_members(seed: int, scale: int) -> tuple[dict[str, bytes], dict]:
    """CSV members (name -> bytes) and their per-table truth."""
    rng = _rng(seed, 2, 0)
    specs = {
        "customers": 1 * scale,
        "orders": 4 * scale,
        "events": 2 * scale,
    }
    members, truth = {}, {}
    for name, n in specs.items():
        ids = np.arange(1, n + 1, dtype=np.int64)
        ref = rng.integers(1, max(2, scale), n)
        cents = rng.integers(0, 1_000_000, n)
        ts = ANCHOR0_S - rng.integers(0, 365 * 86_400, n)
        stamp = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
        lines = [f"{name}_id,ref_id,amount,created_at"]
        lines += [
            f"{i},{r},{c // 100}.{c % 100:02d},{s.replace('T', ' ')}"
            for i, r, c, s in zip(ids.tolist(), ref.tolist(), cents.tolist(), stamp.tolist())
        ]
        members[f"{name}.csv"] = ("\n".join(lines) + "\n").encode()
        truth[f"cb_{name}"] = {
            "rows": int(n),
            "id_sum": int(ids.sum()),
            "ref_sum": int(ref.sum()),
            "amount_cents": int(cents.sum()),
            "created_min_s": int(ts.min()),
            "created_max_s": int(ts.max()),
        }
    return members, truth


def write_tar(path: str, members: dict[str, bytes]) -> None:
    """A tar archive with fixed metadata, so equal members give equal bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with tarfile.open(path, "w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in sorted(members.items()):
            info = tarfile.TarInfo(f"export/{name}")
            info.size, info.mtime, info.mode = len(data), 0, 0o644
            tf.addfile(info, io.BytesIO(data))


def etl_sync(seed: int, root: str, *, rows: int = 1_000_000, rounds: int = 3,
             tar_scale: int = 10_000, payload_chars: int = 80) -> dict:
    """Snapshots 0..rounds as parquet plus the tarball; returns the truth."""
    snaps = EtlSnapshots(seed, rows, payload_chars)
    paths = []
    for r in range(rounds + 1):
        if r:
            snaps.advance()
        _write(snaps.table(), os.path.join(root, f"snapshot_{r}", "part-0.parquet"))
        paths.append(f"snapshot_{r}")
    members, tar_truth = _tar_members(seed, tar_scale)
    write_tar(os.path.join(root, "export.tar"), members)
    truth = {
        "snapshots": paths,
        "rounds": snaps.rounds,
        "rows0": rows,
        "tar": "export.tar",
        "tables": tar_truth,
        "sizes": {"rows": rows, "rounds": rounds, "payload_chars": payload_chars,
                  "tar_rows": sum(t["rows"] for t in tar_truth.values())},
    }
    _write_truth(root, truth)
    return truth


# --------------------------------------------------------------------------
# corpus_prep


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: dict[str, None] = {}
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words[letters[rng.integers(0, 26, k)].tobytes().decode()] = None
    return list(words)


def tokenize(text: str) -> list[str]:
    """The program's tokenizer restated: lower-case, split on non-[a-z0-9]."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def corpus(seed: int, root: str, *, docs: int = 40_000, bench_passages: int = 400) -> dict:
    """A corpus with planted exact duplicates, near-duplicates (1-3 token
    edits), PII, low-quality (repetitive) docs and copies of held-out
    benchmark passages. Copies always get larger ids than their
    originals, so the canonical (min-id) member is the original."""
    rng = _rng(seed, 3, 0)
    vocab = np.array(_vocab(rng, 4000))
    weights = 1.0 / (np.arange(len(vocab)) + 20.0) ** 0.8
    weights /= weights.sum()

    def words(k: int) -> list[str]:
        return vocab[rng.choice(len(vocab), k, p=weights)].tolist()

    # many near-copies, so that dedup_recall is a share of hundreds and
    # does not jump between seeds
    n_exact, n_near = docs // 25, docs // 5
    n_contam, n_lowq = docs // 100, docs // 100
    n_base = docs - n_exact - n_near - n_contam - n_lowq
    texts: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(words(int(rng.integers(60, 140)))))
    # PII on a slice of base docs that no copy is taken from
    pii_ids = rng.choice(n_base, n_base // 20, replace=False)
    n_emails = np.zeros(docs, dtype=np.int64)
    n_phones = np.zeros(docs, dtype=np.int64)
    redacted: dict[int, str] = {}
    for i in pii_ids.tolist():
        toks = texts[i].split(" ")
        red = list(toks)
        for _ in range(int(rng.integers(1, 3))):
            pos = int(rng.integers(0, len(toks) + 1))
            if rng.random() < 0.5:
                tok, mask = f"{words(1)[0]}@{words(1)[0]}.com", "[EMAIL]"
                n_emails[i] += 1
            else:
                tok, mask = f"555-{int(rng.integers(0, 10_000)):04d}", "[PHONE]"
                n_phones[i] += 1
            toks.insert(pos, tok)
            red.insert(pos, mask)
        texts[i], redacted[i] = " ".join(toks), " ".join(red)
    # held-out benchmark; each contaminated doc quotes a distinct passage
    bench = [" ".join(words(int(rng.integers(40, 60)))) for _ in range(bench_passages)]
    contam_ids = list(range(n_base, n_base + n_contam))
    for j in range(n_contam):
        texts.append(" ".join(words(int(rng.integers(0, 6))) + [bench[j % bench_passages]]))
    lowq_ids = list(range(n_base + n_contam, n_base + n_contam + n_lowq))
    for _ in range(n_lowq):
        phrase = words(3)
        texts.append(" ".join(phrase * int(rng.integers(15, 25))))
    pii = set(pii_ids.tolist())
    clean = np.array([i for i in range(n_base) if i not in pii])
    originals = rng.choice(clean, n_exact + n_near, replace=False)
    exact_ids, near_ids, clusters = [], [], []
    for orig in originals[:n_exact].tolist():
        exact_ids.append(len(texts))
        clusters.append([orig, len(texts)])
        texts.append(texts[orig])
    for orig in originals[n_exact:].tolist():
        toks = texts[orig].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            op, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(toks)))
            new = words(1)[0]
            if op == 0 and toks[pos] != new:
                toks[pos] = new
            elif op == 1:
                toks.insert(pos, new)
            else:
                del toks[pos]
        if " ".join(toks) == texts[orig]:
            toks.append(words(1)[0])
        near_ids.append(len(texts))
        clusters.append([orig, len(texts)])
        texts.append(" ".join(toks))
    assert len(texts) == docs
    order = rng.permutation(docs)  # rows on disk in no id order
    table = pa.table(
        {
            "doc_id": pa.array(order.astype(np.int64)),
            "source": pa.array([f"s{i % 7}" for i in order.tolist()]),
            "text": pa.array([texts[i] for i in order.tolist()]),
        }
    )
    docs_path = os.path.join(root, "docs", "part-0.parquet")
    _write(table, docs_path, row_group_size=8192)
    bench_path = os.path.join(root, "benchmark", "part-0.parquet")
    _write(pa.table({"doc_id": pa.array(np.arange(bench_passages, dtype=np.int64)),
                     "text": pa.array(bench)}), bench_path)
    truth = {
        "docs": "docs",
        "benchmark": "benchmark",
        "n_docs": docs,
        "exact_copies": exact_ids,
        "near_copies": near_ids,
        "clusters": clusters,
        "contaminated": contam_ids,
        "low_quality": lowq_ids,
        "pii": {str(i): [int(n_emails[i]), int(n_phones[i]), redacted[i]] for i in sorted(pii)},
        "n_tokens": [len(tokenize(t)) for t in texts],
        "sizes": {"docs": docs, "bench_passages": bench_passages},
    }
    _write_truth(root, truth)
    truth["texts"] = texts
    return truth


# --------------------------------------------------------------------------
# vector_serve


class VectorSpace:
    """Clustered vectors: the base store, appended batches and Zipf-skewed
    queries, each drawn from its own seeded stream."""

    QUERY_ID0 = 10**12  # far from every vector id: probes exclude id == query_id

    def __init__(self, seed: int, *, n: int, dim: int, clusters: int, batch: int,
                 spread: float = 0.08, zipf: float = 1.2):
        rng = _rng(seed, 4, 0)
        self.seed, self.n, self.dim, self.batch, self.spread = seed, n, dim, batch, spread
        c = rng.normal(size=(clusters, dim))
        self.centers = c / np.linalg.norm(c, axis=1, keepdims=True)
        pop = 1.0 / np.arange(1, clusters + 1) ** zipf
        self.popularity = pop[rng.permutation(clusters)] / pop.sum()

    def _draw(self, rng: np.random.Generator, k: int, p=None) -> np.ndarray:
        cl = rng.choice(len(self.centers), k, p=p)
        noise = rng.normal(scale=self.spread, size=(k, self.dim))
        return (self.centers[cl] + noise).astype(np.float32)

    def base(self) -> np.ndarray:
        return self._draw(_rng(self.seed, 4, 1), self.n)

    def batch_vectors(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        ids = np.arange(self.n + i * self.batch, self.n + (i + 1) * self.batch, dtype=np.int64)
        return ids, self._draw(_rng(self.seed, 5, i), self.batch)

    def queries(self, j: int, k: int) -> tuple[np.ndarray, np.ndarray]:
        ids = np.arange(self.QUERY_ID0 + j * k, self.QUERY_ID0 + (j + 1) * k, dtype=np.int64)
        return ids, self._draw(_rng(self.seed, 6, j), k, p=self.popularity)


def vector_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), vecs.shape[1])
    return pa.table({"vec_id": pa.array(ids), "embedding": emb.cast(pa.list_(pa.float32()))})


def exact_topk(store_ids: np.ndarray, store: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Brute-force cosine top-k ids per query, ties broken by smaller id."""
    s = store / np.linalg.norm(store, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q.astype(np.float64) @ s.T.astype(np.float64)
    out = []
    for row in sims:
        top = np.argpartition(-row, min(k + 8, len(row) - 1))[: k + 9]
        top = top[np.lexsort((store_ids[top], -row[top]))][:k]
        out.append(store_ids[top])
    return np.array(out)


def vectors(seed: int, root: str, *, n: int = 100_000, dim: int = 64, clusters: int = 64,
            batch: int = 2000) -> tuple[VectorSpace, dict]:
    space = VectorSpace(seed, n=n, dim=dim, clusters=clusters, batch=batch)
    path = os.path.join(root, "base", "part-0.parquet")
    _write(vector_table(np.arange(n, dtype=np.int64), space.base()), path, row_group_size=16_384)
    truth = {"base": "base",
             "sizes": {"vectors": n, "dim": dim, "clusters": clusters, "batch": batch}}
    _write_truth(root, truth)
    return space, truth


def _write_truth(root: str, truth: dict) -> None:
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)

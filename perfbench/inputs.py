"""Seeded input generators for the benchmark workloads.

Every input is built with numpy/pyarrow from the workload seed alone,
never with the engine's own generators, so a change to the program
under test cannot change what it is fed.  The same seed gives
byte-identical parquet files; :func:`tree_hash` fingerprints them.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Origin-table feature settings shared by the generator and the
# independent pyarrow count in the bulk-migrate check.
WRITETIME_BASE_US = 1_700_000_000_000_000
WRITETIME_SPAN_US = 30 * 86_400 * 1_000_000
WRITETIME_MIN_US = WRITETIME_BASE_US + WRITETIME_SPAN_US // 10
WRITETIME_MAX_US = WRITETIME_BASE_US + WRITETIME_SPAN_US * 9 // 10
GUARDRAIL_COL_KB = 1.0
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = np.array(
    "spark data row key value table scan sort hash merge join group filter "
    "window stream batch query column part line fast slow big small order "
    "agg index cache disk node ring token range repair diff sample write "
    "read commit log state shuffle stage task job plan tree leaf digest "
    "the a of and to in is for on with".split()
)


CLERKS = [f"Clerk#{i:09d}" for i in range(1000)]


def _pick(values, idx: np.ndarray) -> pa.Array:
    """``values[idx]`` as an arrow string array."""
    return pa.array(list(values), pa.string()).take(pa.array(idx))


def _letters(rng: np.random.Generator, lengths: np.ndarray) -> pa.Array:
    """Strings of the given byte lengths over [a-z ] built straight
    from an offsets buffer (no per-row Python)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)
    data = alphabet[rng.integers(0, len(alphabet), int(offsets[-1]))]
    return pa.StringArray.from_buffers(
        len(lengths), pa.py_buffer(offsets), pa.py_buffer(data.tobytes())
    )


def orders_table(seed: int, rows: int) -> pa.Table:
    """A lab-``orders``-like origin table with a writetime column and a
    skew-length comment column (the guardrail target)."""
    rng = np.random.default_rng([seed, 1])
    # mostly short comments, a 1.5 % tail far past the 1 KB guardrail
    lengths = rng.integers(20, 200, rows)
    tail = rng.random(rows) < 0.015
    lengths[tail] = rng.integers(1100, 4000, int(tail.sum()))
    return pa.table(
        {
            "o_orderkey": pa.array(rng.permutation(rows).astype(np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(rows // 20, 1), rows)),
            "o_orderstatus": _pick(
                STATUSES, rng.choice(3, rows, p=[0.45, 0.45, 0.10])
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(900.0, 500_000.0, rows), 2)
            ),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, rows)),
            "o_clerk": _pick(CLERKS, rng.integers(0, len(CLERKS), rows)),
            "o_comment": _letters(rng, lengths),
            "_writetime": pa.array(
                WRITETIME_BASE_US + rng.integers(0, WRITETIME_SPAN_US, rows)
            ),
        }
    )


def expected_migrated_rows(origin: pa.Table) -> int:
    """Rows the bulk-migrate feature set keeps, computed with pyarrow
    alone: writetime window, ``o_orderstatus <> 'P'``, and the 1 KB
    guardrail on ``o_comment`` (octet length / 1024 > cap rejects)."""
    wt = origin["_writetime"]
    keep = pc.and_(
        pc.and_(
            pc.greater_equal(wt, WRITETIME_MIN_US),
            pc.less_equal(wt, WRITETIME_MAX_US),
        ),
        pc.and_(
            pc.not_equal(origin["o_orderstatus"], "P"),
            pc.less_equal(
                pc.binary_length(origin["o_comment"]), GUARDRAIL_COL_KB * 1024
            ),
        ),
    )
    return int(pc.sum(keep).as_py())


@dataclass(frozen=True)
class Divergence:
    missing: int
    mismatched: int
    extra: int


def divergent_target(
    seed: int, origin: pa.Table, per_kind: int = 100
) -> tuple[pa.Table, Divergence]:
    """Plant ``per_kind`` missing, mismatched and extra rows against
    ``origin``: drop some keys, change ``o_totalprice`` by +1.00 on
    others, and append rows whose keys the origin lacks."""
    rng = np.random.default_rng([seed, 2])
    n = origin.num_rows
    picks = rng.choice(n, 2 * per_kind, replace=False)
    drop, change = picks[:per_kind], picks[per_kind:]
    keep = np.ones(n, dtype=bool)
    keep[drop] = False
    price = origin["o_totalprice"].to_numpy().copy()
    price[change] += 1.0
    target = origin.set_column(
        origin.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa.array(price),
    ).filter(pa.array(keep))
    extra = orders_table(seed + 1_000_003, per_kind)
    extra = extra.set_column(
        0,
        "o_orderkey",
        pa.array(np.arange(n, n + per_kind, dtype=np.int64)),
    )
    return pa.concat_tables([target, extra]), Divergence(
        per_kind, per_kind, per_kind
    )


MUTATION_SCHEMA = pa.schema(
    [
        ("mut_id", pa.int64()),
        ("file_seq", pa.int32()),
        ("pk", pa.int64()),
        ("op", pa.string()),
        ("val", pa.float64()),
        ("payload", pa.string()),
    ]
)


def mutation_file(seed: int, file_seq: int, rows: int) -> pa.Table:
    """One file of ZDM mutations; ``mut_id`` is unique across files
    of up to a million rows."""
    rng = np.random.default_rng([seed, 3, file_seq])
    return pa.table(
        {
            "mut_id": pa.array(
                file_seq * 1_000_000 + np.arange(rows, dtype=np.int64)
            ),
            "file_seq": pa.array(np.full(rows, file_seq, dtype=np.int32)),
            "pk": pa.array(rng.integers(0, 1_000_000, rows)),
            "op": _pick(
                ["INSERT", "UPDATE", "DELETE"],
                rng.choice(3, rows, p=[0.6, 0.3, 0.1]),
            ),
            "val": pa.array(np.round(rng.normal(0.0, 100.0, rows), 3)),
            "payload": _letters(rng, rng.integers(16, 96, rows)),
        },
        schema=MUTATION_SCHEMA,
    )


def mutation_digest(table: pa.Table) -> tuple[int, str]:
    """(row count, order-independent hash) of a mutation set: rows are
    sorted by ``mut_id`` before hashing, so sink file order and batch
    boundaries do not matter."""
    t = (
        table.select(MUTATION_SCHEMA.names)
        .cast(MUTATION_SCHEMA)
        .sort_by("mut_id")
        .combine_chunks()
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, MUTATION_SCHEMA) as w:
        w.write_table(t)
    return t.num_rows, hashlib.sha256(sink.getvalue()).hexdigest()


def documents_table(seed: int, docs: int) -> pa.Table:
    """A corpus with planted near-duplicates: about a third of the
    documents copy an earlier one with ~8 % of words replaced."""
    rng = np.random.default_rng([seed, 4])
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.35:
            words = texts[int(rng.integers(0, i))].split()
            flips = rng.random(len(words)) < 0.08
            for j in np.flatnonzero(flips):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = list(WORDS[rng.integers(0, len(WORDS), rng.integers(20, 70))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(rng.permutation(docs).astype(np.int64)),
            "text": pa.array(texts),
        }
    )


def near_dup_cluster_sizes(docs: pa.Table, n: int = 3, threshold: float = 0.5) -> list[int]:
    """Sizes of the near-duplicate clusters of ``docs``, computed in
    plain Python: word ``n``-gram shingle sets, every pair with Jaccard
    at least ``threshold`` joined, connected components by union-find."""
    sets = []
    for text in docs["text"].to_pylist():
        toks = text.split(" ")
        sets.append({" ".join(toks[i:i + n]) for i in range(max(len(toks) - n + 1, 1))})
    parent = list(range(len(sets)))

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, a in enumerate(sets):
        for j in range(i + 1, len(sets)):
            b = sets[j]
            common = len(a & b)
            if common and common >= threshold * (len(a) + len(b) - common):
                parent[root(i)] = root(j)
    sizes: dict[int, int] = {}
    for i in range(len(sets)):
        sizes[root(i)] = sizes.get(root(i), 0) + 1
    return sorted(sizes.values())


def embeddings_table(seed: int, vectors: int, dim: int = 64) -> pa.Table:
    """Clustered float32 embeddings (16 centres plus noise)."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(0.0, 0.15, (16, dim))
    label = rng.integers(0, 16, vectors)
    emb = (centres[label] + rng.normal(0.0, 0.05, (vectors, dim))).astype(
        np.float32
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet parts under directory
    ``path`` so a scan has that many splits."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def tree_hash(paths: list[str]) -> str:
    """sha256 over every file under ``paths`` (relative name + bytes),
    in sorted order."""
    h = hashlib.sha256()
    for root in paths:
        for dirpath, _, filenames in sorted(os.walk(root)):
            for name in sorted(filenames):
                full = os.path.join(dirpath, name)
                h.update(os.path.relpath(full, root).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()

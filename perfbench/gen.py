"""Seeded inputs for the benchmark workloads, and the answers the
program must give on them.

Everything here is a pure function of the seed (numpy and pyarrow
only). No Spark and no library code runs here, so every expected
answer is computed independently of the code under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_REGIONS = 8

# meta_plan: (snapshots, files per snapshot). One manifest per
# snapshot, so `wide` plans above the library's default
# manifest-parallel threshold (16) and `compact` below it. The
# `warm_` tables take the same code paths at a fraction of the size,
# for the warm-up.
META_SHAPES = {
    "wide": (120, 20),
    "compact": (8, 1000),
    "warm_wide": (20, 1),
    "warm_compact": (2, 10),
}

META_FIELDS = [("id", "long"), ("region", "int"), ("price", "double")]

LINEITEM_FIELDS = [
    ("l_orderkey", "long"),
    ("l_partkey", "long"),
    ("l_suppkey", "long"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
]
RETURN_FLAGS = ("A", "N", "R")

# commit_churn sizing (the warm-up table ingests smaller batches)
BATCH_ROWS = 20_000
WARM_BATCH_ROWS = 2_000
N_BATCHES = 24

# curation corpus sizing
N_DOCS = 1_000
DOC_VOCAB = (
    "a the data spark table scan filter join group agg sort order window "
    "row column key value hash merge stream batch query vector line part "
    "customer fast slow big small"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one input never
    # reshuffles another
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


# ---------------------------------------------------------------- meta_plan


def meta_table_spec(seed: int, name: str) -> dict:
    """Files of one metadata-only table: a list of snapshots, each a
    list of file dicts with python-typed bounds, every snapshot's
    files sharing one region (so each manifest is clustered on one
    partition value)."""
    n_snap, per_snap = META_SHAPES[name]
    rng = _rng(seed, f"meta-{name}")
    if name.endswith("compact"):
        regions = rng.permutation(N_REGIONS)[:n_snap]
    else:
        regions = rng.integers(0, N_REGIONS, n_snap)
    counts = rng.integers(500, 1500, (n_snap, per_snap))
    sizes = counts * 40 + rng.integers(0, 1000, (n_snap, per_snap))
    price_lo = np.round(rng.uniform(1.0, 900.0, (n_snap, per_snap)), 2)
    price_hi = np.round(price_lo + rng.uniform(1.0, 100.0, (n_snap, per_snap)), 2)
    snaps, next_id = [], 0
    for s in range(n_snap):
        reg = int(regions[s])
        files = []
        for f in range(per_snap):
            rc = int(counts[s, f])
            files.append(
                {
                    "path": f"data/region={reg}/s{s:04d}-f{f:04d}.parquet",
                    "region": reg,
                    "record_count": rc,
                    "file_size_in_bytes": int(sizes[s, f]),
                    "id_lo": next_id,
                    "id_hi": next_id + rc - 1,
                    "price_lo": float(price_lo[s, f]),
                    "price_hi": float(price_hi[s, f]),
                }
            )
            next_id += rc
        snaps.append(files)
    return {"name": name, "snapshots": snaps, "max_id": next_id - 1}


def meta_queries(seed: int, spec: dict) -> dict:
    """Seeded predicates over one meta table, with expected answers.
    Snapshot ids are 1-based commit order (the library assigns
    max+1 on a fresh table)."""
    rng = _rng(seed, f"meta-q-{spec['name']}")
    snaps = spec["snapshots"]
    all_files = [f for s in snaps for f in s]
    regions = sorted({f["region"] for f in all_files})
    region = int(regions[int(rng.integers(0, len(regions)))])
    width = max(1, spec["max_id"] // 20)
    lo = int(rng.integers(0, spec["max_id"] - width))
    hi = lo + width
    # the seed picks values, never the amount of work: time travel
    # goes to mid-history and manifest2json dumps the first two
    # snapshots' manifests
    old = max(1, len(snaps) // 2)
    dump = min(2, len(snaps))
    parts: dict[int, list[int]] = {}
    for f in all_files:
        p = parts.setdefault(f["region"], [0, 0])
        p[0] += 1
        p[1] += f["record_count"]
    return {
        "head": len(snaps),
        "plans": {
            "all": {"kw": {}, "files": sorted(f["path"] for f in all_files)},
            "region": {
                "kw": {"partition_pred": {"region": region}},
                "files": sorted(f["path"] for f in all_files if f["region"] == region),
            },
            "id_range": {
                "kw": {"field_id": 1, "lo": lo, "hi": hi},
                "files": sorted(
                    f["path"] for f in all_files if f["id_lo"] <= hi and f["id_hi"] >= lo
                ),
            },
        },
        "files_at": {
            "snapshot": old,
            "files": sorted(f["path"] for s in snaps[:old] for f in s),
        },
        "manifest2json": {
            "snapshot": dump,
            "entries": sum(len(s) for s in snaps[:dump]),
        },
        "partitions": {str(k): tuple(v) for k, v in sorted(parts.items())},
    }


# ------------------------------------------------------------ lineitem rows


def lineitem(rng: np.random.Generator, n: int, first_orderkey: int) -> pa.Table:
    """`n` lineitem-shaped rows with orderkeys from `first_orderkey`
    upward (about four lines per order)."""
    okey = first_orderkey + np.sort(rng.integers(0, max(1, n // 4), n))
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, n), 2), pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(
                np.array(RETURN_FLAGS)[rng.integers(0, 3, n)], pa.string()
            ),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)], pa.string()),
        }
    )


# ------------------------------------------------------------ commit_churn


def churn_batches(seed: int, out_dir: str, rows: int = BATCH_ROWS) -> list[dict]:
    """Write the ingest batches as parquet files (the landed input
    the ingest job picks up) and return, per batch, its path and row
    count. Orderkey ranges of batches are disjoint and increasing."""
    rng = _rng(seed, f"churn-{rows}")
    os.makedirs(out_dir, exist_ok=True)
    out, okey = [], 1
    for b in range(N_BATCHES):
        t = lineitem(rng, rows, okey)
        path = os.path.join(out_dir, f"batch-{b:03d}.parquet")
        pq.write_table(t, path)
        out.append({"path": path, "rows": t.num_rows})
        okey = pc.max(t.column("l_orderkey")).as_py() + 1
    return out


class ChurnModel:
    """Live-row model of the churn table, kept with pyarrow from the
    same batches and predicates the program receives."""

    def __init__(self, batches: list[dict]):
        self._batches = batches
        self._live: list[pa.Table] = []

    def ingest(self, b: int) -> None:
        self._live.append(pq.read_table(self._batches[b]["path"]))

    @property
    def live_rows(self) -> int:
        return sum(t.num_rows for t in self._live)

    @property
    def live_quantity(self) -> float:
        return float(sum(pc.sum(t.column("l_quantity")).as_py() or 0.0 for t in self._live))

    def delete_predicate(self, rng: np.random.Generator) -> tuple[str, int]:
        """A predicate over one ingested batch's orderkey range that
        matches at least one live row, and the number it deletes."""
        while True:
            b = int(rng.integers(0, len(self._live)))
            keys = self._live[b].column("l_orderkey")
            if len(keys) == 0:
                continue
            lo = pc.min(keys).as_py()
            hi = pc.max(keys).as_py()
            a = int(rng.integers(lo, hi + 1))
            z = min(hi, a + max(1, (hi - lo) // 50))
            flag = RETURN_FLAGS[int(rng.integers(0, 3))]
            mask = pc.and_(
                pc.and_(pc.greater_equal(keys, a), pc.less_equal(keys, z)),
                pc.equal(self._live[b].column("l_returnflag"), flag),
            )
            n = pc.sum(mask).as_py() or 0
            if n:
                self._live[b] = self._live[b].filter(pc.invert(mask))
                pred = (
                    f"l_orderkey BETWEEN {a} AND {z} AND l_returnflag = '{flag}'"
                )
                return pred, n


# ------------------------------------------------------------------ curate


def curate_corpus(seed: int, sf_dir: str) -> None:
    """documents.parquet for the curation operator: a
    31-word-vocabulary corpus with seeded near-duplicate documents."""
    rng = _rng(seed, "docs")
    os.makedirs(sf_dir, exist_ok=True)
    vocab = np.array(DOC_VOCAB)
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.03:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 30)))]))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(np.array(["en", "fr", "es", "zh"])[rng.integers(0, 4, N_DOCS)]),
                "source": pa.array([f"src{i % 7}" for i in range(N_DOCS)]),
                "n_chars": pa.array([len(x) for x in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )

"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of the seed:

- :func:`write_tables` writes the ten parquet tables (TPC-H-ish star
  schema, ``events``, ``documents``, ``embeddings``) that the registry
  queries read. Schemas, value ranges and physical layout (one file, one
  row group, snappy) follow the project's test data (TESTDATA.md,
  FIXTURES.md); row counts follow its sf0.01 tables.
- :func:`graph_inputs` picks the seed molecules of the tiny and mid
  edit-graph expansions, the BFS query pairs and the subgraph-overlap
  sample. Sizes are fixed (processed-molecule targets, pair and sample
  counts), so every seed asks for comparable work.

Only the standard library, numpy, pyarrow and the engine's pure-Python
chemistry kernel (``molgraphdb_spark.chem``) are used; no Spark.
"""

from __future__ import annotations

import random
from collections import deque
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from molgraphdb_spark.chem.edits import all_single_edits
from molgraphdb_spark.chem.mol import mol_key, parse_smiles

#: Scale of the generated tables: the row counts of the sf0.01 test data.
SF = 0.01

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents over a 31-word vocabulary; about 6% are
    near-duplicates of an earlier document (one to three word edits) and
    about 1% exact copies, so every near-dup query has pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.07:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return texts


def make_tables(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables (see module docstring)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), 500, int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": t0 + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_user, n_ev, dtype=np.int64),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _documents(rng, n_doc)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(list(_LANGS), n_doc, p=list(_LANG_P)),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    for name, table in make_tables(seed).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")


# ---------------------------------------------------------------- graph

#: Processed-molecule targets of the two expansions: the tiny one sits
#: where the engine's driver-side path wins, the mid one where its
#: distributed wave loop wins (both still under the driver-path cap).
TINY_MOLS, TINY_EDGES = (8, 12), (30, 60)
MID_MOLS, MID_EDGES = (85, 100), (720, 770)
N_BFS_PAIRS, BFS_HOPS = 4, 3
N_OVERLAP, OVERLAP_ATOMS = 8, 5

_VALENCE = {"C": 4, "N": 3, "O": 2}


def random_molecule(rng: random.Random, n_atoms: int) -> str:
    """A random acyclic single-bonded C/N/O molecule as SMILES."""
    elems = ["C"] + [rng.choices("CNO", weights=(7, 2, 2))[0] for _ in range(n_atoms - 1)]
    adj: list[list[int]] = [[] for _ in range(n_atoms)]
    for i in range(1, n_atoms):
        j = rng.choice([j for j in range(i) if len(adj[j]) < _VALENCE[elems[j]]])
        adj[i].append(j)
        adj[j].append(i)

    def emit(u: int, parent: int) -> str:
        kids = [v for v in adj[u] if v != parent]
        return elems[u] + "".join(f"({emit(v, u)})" for v in kids[:-1]) + (
            emit(kids[-1], u) if kids else ""
        )

    return emit(0, -1)


def closure(
    seeds: list[str], memo: dict[str, list[tuple]] | None = None
) -> tuple[dict[str, str], dict[tuple[str, str], tuple[int, int, int]], int]:
    """Pure-Python fixed point of ``all_single_edits`` from ``seeds``:
    (vertices key→smiles, edges (src, dst)→(diff_atom, diff_bond, subs),
    candidate edges emitted). First emission wins, as in the engine.
    ``memo`` caches each molecule's edits across calls."""
    memo = {} if memo is None else memo
    verts: dict[str, str] = {}
    for smi in seeds:
        verts.setdefault(mol_key(parse_smiles(smi)), smi)
    edges: dict[tuple[str, str], tuple[int, int, int]] = {}
    frontier = dict(verts)
    emitted = 0
    while frontier:
        fresh: dict[str, str] = {}
        for smi in frontier.values():
            if smi not in memo:
                memo[smi] = list(all_single_edits(parse_smiles(smi), smi))
            for src, src_smi, dst, da, db, subs in memo[smi]:
                emitted += 1
                edges.setdefault((src, dst), (da, db, subs))
                if src not in verts and src not in fresh:
                    fresh[src] = src_smi
        verts.update(fresh)
        frontier = fresh
    return verts, edges, emitted


def _pick_seeds(
    rng: random.Random, mols: tuple[int, int], edges: tuple[int, int], memo: dict
) -> list[str]:
    """Greedily add random molecules while the union closure stays within
    the upper processed-molecule and edge bounds, until it reaches both
    lower bounds; start over if 200 tries do not get there."""
    while True:
        seeds: list[str] = []
        n_verts = 0
        for _ in range(200):
            smi = random_molecule(rng, rng.choice((4, 5)))
            verts, es, _ = closure(seeds + [smi], memo)
            if len(verts) > mols[1] or len(es) > edges[1] or len(verts) == n_verts:
                continue
            seeds.append(smi)
            n_verts = len(verts)
            if n_verts >= mols[0] and len(es) >= edges[0]:
                return seeds


def bfs_distances(edges, src: str) -> dict[str, int]:
    """Hop distances from ``src`` over directed (src, dst) pairs."""
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {src: 0}
    queue = deque([src])
    while queue:
        u = queue.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                queue.append(v)
    return dist


def graph_inputs(seed: int) -> dict:
    """Seed molecules, BFS pairs and overlap sample for ``graph_fixpoint``.

    Every BFS pair is exactly ``BFS_HOPS`` hops apart in the union of
    both expansions, and every overlap molecule has ``OVERLAP_ATOMS``
    atoms, so each seed asks the same number of waves and the same
    enumeration size."""
    rng = random.Random(seed * 7919 + 11)
    memo: dict[str, list[tuple]] = {}
    tiny = _pick_seeds(rng, TINY_MOLS, TINY_EDGES, memo)
    mid = _pick_seeds(rng, MID_MOLS, MID_EDGES, memo)
    verts, edges, _ = closure(tiny + mid, memo)
    keys = sorted(verts)
    pairs: list[tuple[str, str]] = []
    while len(pairs) < N_BFS_PAIRS:
        src = rng.choice(keys)
        far = sorted(k for k, d in bfs_distances(edges, src).items() if d == BFS_HOPS)
        if far:
            pairs.append((src, rng.choice(far)))
    sized = sorted(v for v in verts.values() if parse_smiles(v).n_atoms == OVERLAP_ATOMS)
    overlap = rng.sample(sized, N_OVERLAP)
    return {"tiny_seeds": tiny, "mid_seeds": mid, "bfs_pairs": pairs, "overlap_smiles": overlap}

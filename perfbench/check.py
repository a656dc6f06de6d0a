"""Correctness check of every op result, run after the timed passes.

- Registry ops: row count, column names and the order-insensitive value
  hash of ``tools/parity.value_hash`` against the query's DuckDB oracle
  on the same parquet files. Two graph queries are checked against a
  Python reference over the purchase edges DuckDB joins instead:
  ``graph_pagerank_top``'s registry oracle is a literal of its result
  on the sf0.01 test data, and ``graph_connected_components_summary``'s is a
  transitive closure that takes DuckDB longer than the whole run.
- Expansions: edges and vertex ids against a pure-Python fixed point of
  ``all_single_edits``.
- Persistence: merged and exported row counts, and the SQLite table's
  row count, against the edge count of the expansions so far.
- BFS: node counts against a Python BFS over the reference edges.
- Subgraph overlap: shared and union subgraph counts against
  ``enumerate_subgraphs`` in plain Python.
"""

from __future__ import annotations

import sqlite3
import time
from contextlib import closing
from itertools import combinations

import duckdb
import numpy as np

from molgraphdb_spark.chem.mol import parse_smiles
from molgraphdb_spark.chem.subgraphs import enumerate_subgraphs
from molgraphdb_spark.sources.tables import TABLE_NAMES
from tools.parity import value_hash

import datagen
from workloads import RELATIONS_TABLE, Op


class GraphReference:
    """Pure-Python answers for the ``graph_fixpoint`` inputs. Building it
    times the two expansions' fixed points (``kernel_s``)."""

    def __init__(self, graph: dict) -> None:
        t0 = time.perf_counter()
        self.tiny = datagen.closure(graph["tiny_seeds"])
        self.mid = datagen.closure(graph["mid_seeds"])
        self.kernel_s = time.perf_counter() - t0
        self.union_edges = {**self.mid[1], **self.tiny[1]}
        self.graph = graph

    @property
    def processed(self) -> tuple[int, int]:
        return len(self.tiny[0]), len(self.mid[0])

    @property
    def emitted(self) -> int:
        return self.tiny[2] + self.mid[2]

    @property
    def kept(self) -> int:
        return len(self.tiny[1]) + len(self.mid[1])

    def bfs_nodes(self, pair: int) -> int:
        src, dst = self.graph["bfs_pairs"][pair]
        dist = datagen.bfs_distances(self.union_edges, src).get(dst)
        return -1 if dist is None else dist + 1

    def bfs_waves(self) -> int:
        """Frontier waves ``bfs_query`` runs for the pairs: one per hop."""
        return sum(self.bfs_nodes(i) - 1 for i in range(len(self.graph["bfs_pairs"])))


def _purchase_pairs(con) -> np.ndarray:
    """(customer, supplier) vertex pairs, ids packed as in the engine."""
    return np.array(
        con.execute(
            "SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        ).fetchall(),
        dtype=np.int64,
    ).reshape(-1, 2)


def _display_id(v: int) -> str:
    return f"c:{v // 2}" if v % 2 == 0 else f"s:{(v - 1) // 2}"


def _components(con) -> list[tuple]:
    """(component = display id of its minimum vertex, n_vertices)."""
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        root = v
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[v] != root:
            parent[v], v = root, parent[v]
        return root

    for c, s in _purchase_pairs(con).tolist():
        a, b = find(c), find(s)
        if a != b:
            parent[max(a, b)] = min(a, b)
    sizes: dict[int, int] = {}
    for v in list(parent):
        r = find(v)
        sizes[r] = sizes.get(r, 0) + 1
    return [(_display_id(r), n) for r, n in sizes.items()]


def _pagerank_top(con, n_iter: int = 10, damping: float = 0.85, k: int = 20) -> list[tuple]:
    pairs = _purchase_pairs(con)
    src = np.concatenate([pairs[:, 0], pairs[:, 1]])
    dst = np.concatenate([pairs[:, 1], pairs[:, 0]])
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s_idx, d_idx = inv[: len(src)], inv[len(src):]
    w = 1.0 / np.bincount(s_idx, minlength=len(ids))
    rank = np.ones(len(ids))
    for _ in range(n_iter):
        contrib = np.zeros(len(ids))
        np.add.at(contrib, d_idx, rank[s_idx] * w[s_idx])
        rank = (1 - damping) + damping * contrib
    ubp = np.floor(rank * 1_000_000 + 0.5).astype(np.int64)
    names = [_display_id(v) for v in ids.tolist()]
    order = sorted(range(len(ids)), key=lambda i: (-ubp[i], names[i]))[:k]
    return [(names[i], int(ubp[i])) for i in order]


class Checker:
    def __init__(self, sf_dir: str, oracles: dict[str, str], graph: GraphReference | None) -> None:
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.oracles = oracles
        self.ref = graph
        self._expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def close(self) -> None:
        self.con.close()

    def check(self, op: Op, result, work_dir: str) -> str | None:
        """None when ``result`` is right, else what is wrong."""
        return getattr(self, f"_{op.kind}")(op, result, work_dir)

    def _oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._expected:
            if name == "graph_pagerank_top":
                self._expected[name] = (["id", "rank_ubp"], _pagerank_top(self.con))
            elif name == "graph_connected_components_summary":
                self._expected[name] = (["component", "n_vertices"], _components(self.con))
            else:
                res = self.con.execute(self.oracles[name])
                self._expected[name] = ([d[0] for d in res.description], res.fetchall())
        return self._expected[name]

    def _registry(self, op: Op, result, _work_dir) -> str | None:
        cols, rows = result
        dcols, drows = self._oracle(op.name)
        if sorted(cols) != sorted(dcols):
            return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows != oracle {len(drows)}"
        if value_hash(cols, rows) != value_hash(dcols, drows):
            return "value hash differs from the oracle"
        return None

    def _expand(self, op: Op, result, _work_dir) -> str | None:
        verts, edges, _ = self.ref.tiny if op.arg == "tiny_seeds" else self.ref.mid
        got_edges, got_verts = result
        want = {(s, d, *attrs) for (s, d), attrs in edges.items()}
        if set(got_edges) != want or len(got_edges) != len(want):
            n_diff = len(set(got_edges) ^ want)
            return f"{len(got_edges)} edges, {n_diff} differ from the Python fixed point"
        if {v[0] for v in got_verts} != set(verts) or len(got_verts) != len(verts):
            return f"{len(got_verts)} vertices != Python fixed point {len(verts)}"
        return None

    def _persist(self, op: Op, result, work_dir: str) -> str | None:
        n_merged, n_exported = result
        edges = self.ref.tiny[1] if op.arg == "expand_tiny" else self.ref.union_edges
        if n_merged != len(edges) or n_exported != len(edges):
            return f"merged {n_merged} / exported {n_exported} rows, expected {len(edges)}"
        if op.arg == "expand_mid":
            with closing(sqlite3.connect(f"{work_dir}/relations.db")) as conn:
                (n,) = conn.execute(f"SELECT COUNT(*) FROM {RELATIONS_TABLE}").fetchone()
            if n != len(edges):
                return f"SQLite holds {n} rows, expected {len(edges)}"
        return None

    def _bfs(self, op: Op, result, _work_dir) -> str | None:
        want = self.ref.bfs_nodes(op.arg)
        return None if result == want else f"path of {result} nodes, Python BFS says {want}"

    def _overlap(self, _op: Op, result, _work_dir) -> str | None:
        cols, rows = result
        hashes = {
            smi: set(enumerate_subgraphs(parse_smiles(smi)))
            for smi in self.ref.graph["overlap_smiles"]
        }
        keys = [cols.index(c) for c in ("mol_a", "mol_b", "n_shared", "n_union")]
        got = sorted(tuple(r[i] for i in keys) for r in rows)
        want = sorted(
            (a, b, len(hashes[a] & hashes[b]), len(hashes[a] | hashes[b]))
            for a, b in combinations(sorted(hashes), 2)
        )
        if got != want:
            return f"{len(got)} overlap pairs, expected {len(want)} (contents differ)"
        return None

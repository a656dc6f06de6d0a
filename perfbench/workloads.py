"""The benchmark's workloads as ordered lists of ops.

An op is one user-visible operation: it calls the engine's public
functions, consumes the result inside its own timing, and returns what
the correctness check needs. Each public call is wrapped in a span named
after the module it enters, so the per-layer metrics can be read off the
trace.

- ``graph_fixpoint``: the paper's write-and-read path (edit-graph
  expansion, incremental persistence, BFS queries, subgraph overlap)
  plus the purchase-graph fixpoint queries of the registry.
- ``dedup_docs``: the shingle-pair near-duplicate family of the registry
  and its cheap exact-hash consumers. It runs no fixpoint loop, so it is
  the bypass for changes to the iterative operators.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from molgraphdb_spark.chem.spark_ops import (
    expand_relations,
    molecule_subgraphs,
    pairwise_overlap_metrics,
    parse_molecules,
)
from molgraphdb_spark.operators.graph import append_edges, bfs_query, empty_edges
from molgraphdb_spark.sources.sqlite_ingest import export_sqlite
from molgraphdb_spark.sources.writers import merge_upsert, read_current

from datagen import N_BFS_PAIRS
from spans import Span, Tracer

GRAPH_QUERIES = (
    "graph_pagerank_top",
    "graph_connected_components_summary",
    "graph_kcore_summary",
)
DEDUP_HEAVY = (
    "neardup_jaccard_pairs",
    "neardup_prefix_pairs",
    "dedup_lsh_verified",
    "dedup_cross_source_matrix",
    "dedup_simhash_pairs",
    "neardup_degree_hist",
)
DEDUP_CHEAP = ("dedup_exact", "dedup_minhash_signatures", "dedup_incremental_flags")
#: Registry queries whose rows are document pairs (``dedup.pairs_out``).
PAIR_QUERIES = (
    "neardup_jaccard_pairs",
    "neardup_prefix_pairs",
    "dedup_lsh_verified",
    "dedup_simhash_pairs",
)

EDGE_KEYS = ["src", "dst"]
RELATIONS_TABLE = "molecular_relations"


@dataclass
class Context:
    """What an op may touch: the session, the inputs and its own files."""

    spark: object
    tracer: Tracer
    sf_dir: str
    work_dir: str
    queries: dict
    graph: dict | None = None
    frames: dict = field(default_factory=dict)

    @property
    def edge_root(self) -> str:
        return os.path.join(self.work_dir, "edges")

    @property
    def sqlite_path(self) -> str:
        return os.path.join(self.work_dir, "relations.db")


@dataclass
class Op:
    name: str
    kind: str  # registry | expand | persist | bfs | overlap
    run: Callable[[Context], object]
    arg: object = None


@dataclass
class OpRun:
    """One op's outcome in one pass; ``group`` is its Spark job group."""

    op: Op
    span: Span
    result: object
    error: str | None
    group: str


@dataclass
class Pass:
    span: Span
    runs: list[OpRun]
    dir: str
    traced: bool


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def registry_op(name: str) -> Op:
    def run(ctx: Context):
        fn = ctx.queries[name]
        with ctx.tracer.span("queries.build"):
            df = fn(ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("queries.exec"):
            rows = _rows(df)
        return df.columns, rows

    return Op(name, "registry", run)


def expand_op(name: str, seeds_key: str) -> Op:
    def run(ctx: Context):
        with ctx.tracer.span("chem.expand_relations"):
            edges, verts = expand_relations(ctx.spark, ctx.graph[seeds_key])
        with ctx.tracer.span("sink"):
            out = _rows(edges), _rows(verts)
        ctx.frames[name] = edges
        return out

    return Op(name, "expand", run, seeds_key)


def persist_op(name: str, expansion: str) -> Op:
    """One incremental batch: append the expansion's edges to the current
    snapshot, MERGE it back, and export the snapshot to SQLite."""

    def run(ctx: Context):
        t = ctx.tracer
        with t.span("writers.read_current"):
            current = read_current(ctx.spark, ctx.edge_root)
        if current is None:
            current = empty_edges(ctx.spark)
        with t.span("graph.append_edges"):
            updated = append_edges(current, ctx.frames[expansion])
        with t.span("writers.merge_upsert"):
            n_merged = merge_upsert(ctx.spark, ctx.edge_root, updated, EDGE_KEYS)
        with t.span("writers.read_current"):
            snapshot = read_current(ctx.spark, ctx.edge_root)
        with t.span("sqlite.export"):
            n_exported = export_sqlite(snapshot, ctx.sqlite_path, RELATIONS_TABLE, mode="overwrite")
        return n_merged, n_exported

    return Op(name, "persist", run, expansion)


def bfs_op(name: str, pair: int) -> Op:
    def run(ctx: Context):
        src, dst = ctx.graph["bfs_pairs"][pair]
        with ctx.tracer.span("writers.read_current"):
            edges = read_current(ctx.spark, ctx.edge_root)
        with ctx.tracer.span("graph.bfs_query"):
            return bfs_query(edges, src, dst)

    return Op(name, "bfs", run, pair)


def overlap_op(name: str) -> Op:
    """Pairwise subgraph overlap (Tanimoto, approximate GED) of the sample."""

    def run(ctx: Context):
        t = ctx.tracer
        with t.span("chem.parse_molecules"):
            mols = parse_molecules(ctx.spark, ctx.graph["overlap_smiles"]).filter("valid")
        with t.span("chem.molecule_subgraphs"):
            subs = molecule_subgraphs(mols)
        with t.span("chem.pairwise_overlap_metrics"):
            pairs = pairwise_overlap_metrics(subs, mols)
        with t.span("sink"):
            return pairs.columns, _rows(pairs)

    return Op(name, "overlap", run)


def workload_ops(workload: str) -> list[Op]:
    if workload == "graph_fixpoint":
        return [
            expand_op("expand_tiny", "tiny_seeds"),
            expand_op("expand_mid", "mid_seeds"),
            persist_op("persist_tiny", "expand_tiny"),
            persist_op("persist_mid", "expand_mid"),
            *[bfs_op(f"bfs_{i}", i) for i in range(N_BFS_PAIRS)],
            overlap_op("pairwise_overlap"),
            *[registry_op(q) for q in GRAPH_QUERIES],
        ]
    if workload == "dedup_docs":
        return [registry_op(q) for q in DEDUP_HEAVY + DEDUP_CHEAP]
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ("graph_fixpoint", "dedup_docs")

"""The input generator is a pure function of the seed, with fixed sizes."""

import pytest

import datagen
from molgraphdb_spark.chem.mol import parse_smiles
from molgraphdb_spark.sources.tables import TABLE_NAMES


def test_tables_repeat_per_seed_and_differ_across_seeds():
    a, b, c = (datagen.make_tables(s, sf=0.001) for s in (5, 5, 6))
    assert list(a) == list(TABLE_NAMES)
    for name in TABLE_NAMES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_tables_have_the_test_data_schemas():
    t = datagen.make_tables(1, sf=0.001)
    assert t["lineitem"].num_rows == 6000 and t["documents"].num_rows == 50
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"


@pytest.fixture(scope="module")
def graphs():
    return {s: datagen.graph_inputs(s) for s in (3, 4)}


def test_graph_inputs_repeat_per_seed(graphs):
    assert datagen.graph_inputs(3) == graphs[3]
    assert graphs[3] != graphs[4]


@pytest.mark.parametrize("seed", [3, 4])
def test_graph_inputs_have_fixed_sizes(graphs, seed):
    g = graphs[seed]
    for key, mols, edges in (
        ("tiny_seeds", datagen.TINY_MOLS, datagen.TINY_EDGES),
        ("mid_seeds", datagen.MID_MOLS, datagen.MID_EDGES),
    ):
        verts, es, _ = datagen.closure(g[key])
        assert mols[0] <= len(verts) <= mols[1], key
        assert edges[0] <= len(es) <= edges[1], key
    assert len(g["bfs_pairs"]) == datagen.N_BFS_PAIRS
    assert len(set(g["overlap_smiles"])) == datagen.N_OVERLAP


@pytest.mark.parametrize("seed", [3, 4])
def test_bfs_pairs_and_overlap_sample_have_fixed_shapes(graphs, seed):
    g = graphs[seed]
    _, edges, _ = datagen.closure(g["tiny_seeds"] + g["mid_seeds"])
    for src, dst in g["bfs_pairs"]:
        assert datagen.bfs_distances(edges, src)[dst] == datagen.BFS_HOPS
    for smi in g["overlap_smiles"]:
        assert parse_smiles(smi).n_atoms == datagen.OVERLAP_ATOMS

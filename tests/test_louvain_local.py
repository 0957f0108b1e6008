"""Spark-free checks of the driver-local Louvain finish in graph/algorithms.py.

``_louvain_local`` is the exact sequential pass the size dispatch runs once
a (contracted) graph fits the driver. The ``louvain_*`` registry entries
check rows only, so these tests pin its partition label for label.
"""

import random

from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.graph import algorithms as alg


def _planted_graph(seed=7, n=200, groups=8, p_in=0.12, p_out=0.01):
    """Symmetrized (src, dst, w) rows: ``groups`` planted clusters (node i
    in cluster i % groups), weights in quarter steps so every weight sum is
    exact in a double."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        for j in range(i + 1, n):
            p = p_in if i % groups == j % groups else p_out
            if rng.random() < p:
                w = rng.randint(1, 9) / 4.0
                rows += [(f"n{i:03d}", f"n{j:03d}", w), (f"n{j:03d}", f"n{i:03d}", w)]
    return rows


def _run(rows):
    return alg._louvain_local(rows, sum(w for _, _, w in rows), 15, 1e-9)


# community label -> members, as the driver-local pass labeled them
EXPECTED = {
    "n061": (
        "n016 n020 n021 n028 n029 n030 n037 n045 n048 n061 n064 n085 n109 "
        "n111 n120 n128 n142 n144 n149 n152 n157 n168 n173 n181 n188 n189"
    ),
    "n121": (
        "n000 n017 n025 n033 n041 n065 n073 n077 n097 n105 n107 n113 n121 "
        "n129 n137 n155 n160 n169 n185 n195"
    ),
    "n162": (
        "n009 n010 n018 n034 n057 n074 n082 n089 n090 n098 n110 n114 n122 "
        "n130 n138 n145 n146 n154 n158 n161 n162 n170 n178 n186 n194"
    ),
    "n166": (
        "n002 n019 n023 n042 n066 n094 n106 n112 n163 n166 n171"
    ),
    "n167": (
        "n001 n007 n031 n040 n047 n055 n058 n063 n071 n079 n087 n095 n103 "
        "n104 n119 n127 n135 n143 n151 n159 n167 n175 n176 n191 n199"
    ),
    "n176": (
        "n004 n012 n036 n044 n049 n052 n060 n068 n076 n084 n092 n100 n108 "
        "n116 n124 n132 n133 n140 n148 n153 n164 n177 n180 n193 n196"
    ),
    "n179": (
        "n003 n011 n015 n026 n027 n039 n043 n050 n051 n056 n059 n067 n072 "
        "n075 n080 n081 n083 n086 n088 n099 n123 n139 n147 n179 n187 n197"
    ),
    "n184": (
        "n008 n024 n032 n035 n091 n096 n136 n172 n183 n184 n192"
    ),
    "n196": (
        "n005 n006 n013 n014 n022 n038 n046 n053 n054 n062 n069 n070 n078 "
        "n093 n101 n102 n115 n117 n118 n125 n126 n131 n134 n141 n150 n156 "
        "n165 n174 n182 n190 n198"
    ),
}


def _expected_map():
    return {n: c for c, members in EXPECTED.items() for n in members.split()}


def test_louvain_local_exact_partition():
    rows = _planted_graph()
    assert len(rows) == 972
    assert _run(rows) == _expected_map()


def test_louvain_local_row_order_invariant():
    rows = _planted_graph()
    for seed in (1, 2, 3):
        shuffled = list(rows)
        random.Random(seed).shuffle(shuffled)
        assert _run(shuffled) == _expected_map()


def test_louvain_local_two_cliques_and_bridge():
    """The graph of test_louvain_local_and_distributed_paths_agree: each
    clique is one community, whatever the row order."""
    edges = []
    for nodes in ([f"a{i}" for i in range(6)], [f"b{i}" for i in range(6)]):
        edges += [(nodes[i], nodes[j]) for i in range(6) for j in range(i + 1, 6)]
    edges.append(("a0", "b0"))
    rows = [(a, b, 1.0) for a, b in edges] + [(b, a, 1.0) for a, b in edges]
    expected = {f"a{i}": "a2" for i in range(6)} | {f"b{i}": "b2" for i in range(6)}
    assert _run(rows) == expected
    random.Random(5).shuffle(rows)
    assert _run(rows) == expected

"""Expected answers, computed without the engine.

The graph comes from the analytic twin ``synth_model.synth_expected_graph``
(pure Python; it calls no engine code). The read-path answers are computed
over that graph: Cypher twins in DuckDB SQL, dead code by the twin's own
breadth-first search, lookups in plain Python, the canonical mapping by the
twin ``synth_model.expected_canonicalization``.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from code_graph_rag_spark.synth_model import (
    expected_canonicalization,
    synth_expected_dead_code,
    synth_expected_graph,
)
from perfbench.gen import FUNCS_PER_DOC, PKG_FANOUT

# the entities the traced run canonicalizes, and the MinHash agreement gate
LINK_LABELS = ("Function", "Method", "Class", "Module")
LINK_AGREEMENT = 0.95

# (name, Cypher, DuckDB twin over nodes(label,id,name,path) and
# edges(subj,pred,obj,subj_label,obj_label)). Single hops bind on
# (id, label), as the engine's one-row-per-label store does; variable-length
# hops and pattern predicates bind on id only.
CYPHER_MIX = [
    (
        "schema_triples",
        "MATCH (a)-[r]->(b) RETURN DISTINCT labels(a)[0] AS src, "
        "type(r) AS rel, labels(b)[0] AS dst",
        "SELECT DISTINCT a.label, e.pred, b.label FROM edges e "
        "JOIN nodes a ON a.id = e.subj AND a.label = e.subj_label "
        "JOIN nodes b ON b.id = e.obj AND b.label = e.obj_label",
    ),
    (
        "grouped_count",
        "MATCH (m:Module)-[:DEFINES]->(f) "
        "RETURN m.qualified_name AS module, count(f) AS n",
        "SELECT m.id, count(*) FROM nodes m "
        "JOIN edges e ON e.subj = m.id AND e.subj_label = m.label "
        "AND e.pred = 'DEFINES' "
        "JOIN nodes f ON f.id = e.obj AND f.label = e.obj_label "
        "WHERE m.label = 'Module' GROUP BY m.id",
    ),
    (
        "not_pattern",
        "MATCH (n:Function|Method) WHERE NOT (n)-[:CALLS]->() "
        "RETURN n.qualified_name AS qn",
        "SELECT id FROM nodes WHERE label IN ('Function', 'Method') "
        "AND id NOT IN (SELECT subj FROM edges WHERE pred = 'CALLS')",
    ),
    (
        "with_reaggregate",
        "MATCH (m:Module)-[:DEFINES]->(n) WITH m, count(n) AS defs "
        "RETURN count(m) AS mods, count(DISTINCT defs) AS distinct_defs",
        "SELECT count(*), count(DISTINCT defs) FROM ("
        "SELECT m.id, m.label, count(*) AS defs FROM nodes m "
        "JOIN edges e ON e.subj = m.id AND e.subj_label = m.label "
        "AND e.pred = 'DEFINES' "
        "JOIN nodes n ON n.id = e.obj AND n.label = e.obj_label "
        "WHERE m.label = 'Module' GROUP BY m.id, m.label)",
    ),
    (
        "optional_match",
        "MATCH (c:Class) OPTIONAL MATCH (c)-[:INHERITS]->(b:Class) "
        "RETURN c.qualified_name AS cls, b.qualified_name AS base",
        "SELECT c.id, b.id FROM (SELECT * FROM nodes WHERE label = 'Class') c "
        "LEFT JOIN (SELECT e.subj, b.id FROM edges e JOIN nodes b "
        "ON b.id = e.obj AND b.label = e.obj_label AND b.label = 'Class' "
        "WHERE e.pred = 'INHERITS' AND e.subj_label = 'Class') b "
        "ON b.subj = c.id",
    ),
    (
        "inherits_closure",
        "MATCH (c:Class)-[:INHERITS*]->(b:Class) "
        "RETURN c.qualified_name AS cls, b.qualified_name AS anc",
        "WITH RECURSIVE clo(src, dst) AS ("
        "SELECT subj, obj FROM edges WHERE pred = 'INHERITS' UNION "
        "SELECT clo.src, e.obj FROM clo JOIN edges e "
        "ON e.subj = clo.dst AND e.pred = 'INHERITS') "
        "SELECT c.id, b.id FROM clo "
        "JOIN nodes c ON c.id = clo.src AND c.label = 'Class' "
        "JOIN nodes b ON b.id = clo.dst AND b.label = 'Class'",
    ),
]


class Expected:
    """Every answer a run checks, for the corpus of ``n_docs`` modules."""

    def __init__(self, n_docs: int, prefix: str, callee: str):
        self.lookup_prefix = prefix
        self.lookup_callee = callee
        nodes, edges = synth_expected_graph(n_docs, FUNCS_PER_DOC, PKG_FANOUT)
        self.nodes = norm((label, nid, name) for label, nid, name, _p in nodes)
        self.edges = norm(edges)
        con = duckdb.connect()
        try:
            con.register(
                "nodes", pd.DataFrame(nodes, columns=["label", "id", "name", "path"])
            )
            con.register(
                "edges",
                pd.DataFrame(
                    edges, columns=["subj", "pred", "obj", "subj_label", "obj_label"]
                ),
            )
            self.cypher = {
                name: norm(con.execute(sql).fetchall())
                for name, _q, sql in CYPHER_MIX
            }
            self.callers = norm(
                con.execute(
                    "SELECT a.id FROM edges e JOIN nodes a ON a.id = e.subj "
                    "AND a.label = e.subj_label JOIN nodes b ON b.id = e.obj "
                    "AND b.label = e.obj_label "
                    "WHERE e.pred = 'CALLS' AND b.id = ?",
                    [callee],
                ).fetchall()
            )
        finally:
            con.close()
        self.prefix = norm(
            (label, nid, name) for label, nid, name in self.nodes
            if nid.startswith(prefix)
        )
        self.dead = synth_expected_dead_code(n_docs, FUNCS_PER_DOC, PKG_FANOUT)

    def canonical(self) -> tuple[list[tuple], list[tuple]]:
        """The canonical mapping of the linked entities, and the graph's
        (subj, pred, obj) triples rewritten through it."""
        ents = [nid for label, nid, _name in self.nodes if label in LINK_LABELS]
        mapping = expected_canonicalization(ents, min_agreement=LINK_AGREEMENT)
        canon = dict(mapping)
        triples = {
            (canon.get(s, s), p, canon.get(o, o)) for s, p, o, _sl, _ol in self.edges
        }
        return norm(mapping), norm(triples)


def norm(rows) -> list[tuple]:
    """Rows as a sorted multiset of tuples (NULL sorts first)."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((v is not None, v) for v in t),
    )

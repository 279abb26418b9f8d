"""Output checks.  Every run checks what it produced; a mismatch makes the
run report ``correct: false`` and exit non-zero.

- builds: ``kg_nodes``/``kg_edges`` equal the dict-based reference oracle
  (``tests/pyoracle.oracle_build_kg``) on the fields ``test_kg_pipeline``
  compares;
- batch queries: the Spark result equals the DuckDB twin
  ``__spark_entry__._batch_context_sql``, evaluated over the oracle graph;
- single questions: every entity and relation in the result exists in the
  graph and the context stays within ``max_total_tokens``;
- upserts: node set, edge set and edge weights equal the oracle's full
  build over every document applied so far.
"""

from __future__ import annotations

import math

NODE_FIELDS = (
    "entity_type", "description", "descriptions", "source_ids", "file_paths",
    "mention_count", "degree",
)
EDGE_FIELDS = (
    "keywords", "description", "descriptions", "source_ids", "relation_count", "rank",
)


def oracle_graph(docs: list[dict], cfg) -> dict:
    from tests.pyoracle import oracle_build_kg

    return oracle_build_kg(
        docs,
        tokenizer_kind=cfg.tokenizer_kind,
        chunk_token_size=cfg.chunk_token_size,
        chunk_overlap_token_size=cfg.chunk_overlap_token_size,
        max_gleaning=cfg.max_gleaning,
        run_ts=cfg.run_ts,
        model_min_len=cfg.model_min_len,
        max_fragments=cfg.max_description_fragments,
    )


def _same(a, b) -> bool:
    if isinstance(b, float):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(b, list):
        return list(a) == b
    return a == b


def graph_mismatches(nodes_rows, edges_rows, oracle: dict, limit: int = 5) -> list[str]:
    """Differences between collected kg_nodes/kg_edges rows and the oracle."""
    out: list[str] = []
    nodes = {r["entity_name"]: r for r in nodes_rows}
    edges = {(r["src"], r["tgt"]): r for r in edges_rows}
    want_n, want_e = oracle["kg_nodes"], oracle["kg_edges"]
    if set(nodes) != set(want_n):
        out.append(f"node set differs: {len(nodes)} vs oracle {len(want_n)}")
    if set(edges) != set(want_e):
        out.append(f"edge set differs: {len(edges)} vs oracle {len(want_e)}")
    for name in sorted(set(nodes) & set(want_n)):
        for f in NODE_FIELDS:
            if not _same(nodes[name][f], want_n[name][f]):
                out.append(f"node {name!r} field {f} differs")
    for pair in sorted(set(edges) & set(want_e)):
        if not _same(edges[pair]["weight"], float(want_e[pair]["weight"])):
            out.append(f"edge {pair} weight differs")
        for f in EDGE_FIELDS:
            if not _same(edges[pair][f], want_e[pair][f]):
                out.append(f"edge {pair} field {f} differs")
    return out[:limit]


def upsert_mismatches(nodes_rows, edges_rows, oracle: dict, limit: int = 5) -> list[str]:
    """Node set, edge set and edge weights against the oracle."""
    out: list[str] = []
    nodes = {r["entity_name"] for r in nodes_rows}
    edges = {(r["src"], r["tgt"]): r["weight"] for r in edges_rows}
    if nodes != set(oracle["kg_nodes"]):
        out.append(f"node set differs: {len(nodes)} vs oracle {len(oracle['kg_nodes'])}")
    if set(edges) != set(oracle["kg_edges"]):
        out.append(f"edge set differs: {len(edges)} vs oracle {len(oracle['kg_edges'])}")
    for pair in sorted(set(edges) & set(oracle["kg_edges"])):
        if not _same(edges[pair], float(oracle["kg_edges"][pair]["weight"])):
            out.append(f"edge {pair} weight {edges[pair]} vs {oracle['kg_edges'][pair]['weight']}")
    return out[:limit]


def query_mismatches(context: str, debug: dict, oracle: dict, max_total_tokens: int) -> list[str]:
    out = []
    for e in debug["entities"]:
        if e["entity_name"] not in oracle["kg_nodes"]:
            out.append(f"query entity {e['entity_name']!r} not in graph")
    for r in debug["relations"]:
        pair = tuple(sorted((r["src"], r["tgt"])))
        if pair not in oracle["kg_edges"]:
            out.append(f"query relation {pair} not in graph")
    n_tokens = len(context.split())
    if n_tokens > max_total_tokens:
        out.append(f"query context has {n_tokens} tokens > {max_total_tokens}")
    if not debug["entities"]:
        out.append("query found no entities")
    return out[:5]


def batch_twin(questions: list[str], oracle: dict, docs: list[dict]) -> dict:
    """question -> context from the DuckDB twin of the batched context
    render.  The twin's own corpus CTE rebuilds a simple-mode graph from a
    ``documents`` table; here its graph inputs are bound to the oracle's
    full-mode graph instead, and its question list to ``questions``.  The
    twin's (chunk, entity) mentions are each node's stored source ids: the
    batched chunk pick reads those capped lists, not every mention."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as em

    saved = em._EVAL_QUERIES
    em._EVAL_QUERIES = list(questions)
    try:
        sql = em._batch_context_sql()
    finally:
        em._EVAL_QUERIES = saved
    body = sql[len(em._KG_CTE):]
    if not sql.startswith(em._KG_CTE) or not body.startswith(","):
        raise RuntimeError("batch twin SQL no longer starts with the corpus CTE")

    degree = {}
    for src, tgt in oracle["kg_edges"]:
        degree[src] = degree.get(src, 0) + 1
        degree[tgt] = degree.get(tgt, 0) + 1
    con = duckdb.connect()
    try:
        con.register("b_dedup", pd.DataFrame({
            "doc_key": [d["doc_id"] for d in docs],
            "doc_id": [d["doc_order"] for d in docs],
            "source": [d["file_path"] for d in docs],
        }))
        con.register("b_chunks", pd.DataFrame({
            "chunk_id": [c["chunk_id"] for c in oracle["chunks"]],
            "doc_key": [c["doc_id"] for c in oracle["chunks"]],
            "chunk_order_index": [c["chunk_order_index"] for c in oracle["chunks"]],
            "content": [c["content"] for c in oracle["chunks"]],
        }))
        con.register("b_mentions", pd.DataFrame(
            [(c, name) for name, n in oracle["kg_nodes"].items() for c in n["source_ids"]],
            columns=["chunk_id", "entity_name"],
        ))
        con.register("b_edges", pd.DataFrame(
            [(s, t, float(e["weight"])) for (s, t), e in oracle["kg_edges"].items()],
            columns=["src", "tgt", "weight"],
        ))
        con.register("b_degree", pd.DataFrame(
            sorted(degree.items()), columns=["e", "degree"]
        ))
        prefix = (
            "WITH dedup AS (SELECT * FROM b_dedup), "
            "chunks AS (SELECT * FROM b_chunks), "
            "mentions AS (SELECT * FROM b_mentions), "
            "edges AS (SELECT * FROM b_edges), "
            "node_degree AS (SELECT e, degree::BIGINT AS degree FROM b_degree)"
        )
        rows = con.execute(prefix + body).fetchall()
    finally:
        con.close()
    return dict(rows)


def batch_mismatches(got_rows, want: dict) -> list[str]:
    got = {r["question"]: r["context"] for r in got_rows}
    out = []
    if set(got) != set(want):
        out.append(f"batch questions differ: {len(got)} vs twin {len(want)}")
    for q in sorted(set(got) & set(want)):
        if got[q] != want[q]:
            out.append(f"batch context differs for {q!r}")
    return out[:5]

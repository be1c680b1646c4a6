"""User-facing exports: stage tables -> CSV / node-link JSON.

Reference parity (the S12/X10 operator family):
* /root/reference/src/sift_kg/export.py:232-296 — CSV export with
  flattened attributes and parallel edges merged into one row;
* /root/reference/src/sift_kg/export.py:31-99 — flatten-for-export
  (lists joined with "; ", nested values JSON-encoded);
* /root/reference/src/sift_kg/export.py:300-329 +
  graph/knowledge_graph.py:331-339 — node-link JSON graph dump.

Scale posture: everything distributed-first. CSV/JSONL exports are
``df.write`` jobs (a directory of parts — at 10^12 docs a single file is
not a thing); ``single_file=True`` coalesces to one part for the
reference-sized convenience case. ``node_link_dict`` is the only
driver-side materializer and guards itself with a hard row cap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def flatten_for_export(df: DataFrame) -> DataFrame:
    """Flatten non-scalar columns for tabular sinks.

    Arrays -> '; '-joined strings, structs/maps -> JSON — the reference's
    _flatten_value semantics (export.py:77-99) as column expressions.
    """
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.ArrayType):
            cols.append(
                F.array_join(F.col(f.name).cast("array<string>"), "; ").alias(
                    f.name
                )
            )
        elif isinstance(f.dataType, (T.StructType, T.MapType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def merge_parallel_edges(dup_pairs: DataFrame) -> DataFrame:
    """One row per (url_a, url_b): parallel stage edges merged.

    Mirrors export.py:232-296 (parallel edges merged into one CSV row):
    channels collected sorted, best scores kept, status resolved by
    precedence confirmed > flagged > rejected (an edge confirmed by ANY
    channel is a confirmed edge).
    """
    status_rank = (
        F.when(F.col("status") == "confirmed", 0)
        .when(F.col("status") == "flagged", 1)
        .otherwise(2)
    )
    return (
        dup_pairs.withColumn("_rank", status_rank)
        .groupBy("url_a", "url_b")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("channel")), "; "
            ).alias("channels"),
            F.count("*").alias("n_parallel"),
            F.max("jaccard").alias("jaccard"),
            F.min("hamming").alias("hamming"),
            F.max("span").alias("span"),
            F.min("_rank").alias("_best"),
        )
        .withColumn(
            "status",
            F.when(F.col("_best") == 0, "confirmed")
            .when(F.col("_best") == 1, "flagged")
            .otherwise("rejected"),
        )
        .drop("_best")
    )


def export_csv(
    df: DataFrame, path: str, single_file: bool = False
) -> None:
    """CSV export with header; non-scalar columns flattened first."""
    out = flatten_for_export(df)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", "true").csv(path)


def export_node_link_jsonl(
    assignments: DataFrame, edges: DataFrame, out_dir: str
) -> None:
    """Distributed node-link graph dump: nodes/ + links/ JSONL part dirs.

    Node rows carry the cluster assignment (the reference stores cluster
    membership on node attrs); link rows are the merged parallel edges.
    """
    nodes = assignments.select(
        F.col("url").alias("id"),
        "cluster_id",
        "canonical_url",
        "cluster_size",
        (F.col("url") == F.col("canonical_url")).alias("is_canonical"),
    )
    links = merge_parallel_edges(edges).select(
        F.col("url_a").alias("source"),
        F.col("url_b").alias("target"),
        "status",
        "channels",
        "jaccard",
        "hamming",
        "span",
    )
    nodes.write.mode("overwrite").json(os.path.join(out_dir, "nodes"))
    links.write.mode("overwrite").json(os.path.join(out_dir, "links"))


def _collect_graph(
    assignments: DataFrame, edges: DataFrame, max_rows: int
) -> tuple[list, list]:
    """Driver-side (nodes, links) rows for reference-sized graphs;
    refuses to materialize beyond ``max_rows`` (distributed exports exist
    for everything larger)."""
    n = assignments.count()
    if n > max_rows:
        raise ValueError(
            f"graph too large to materialize driver-side ({n} > {max_rows});"
            " use export_node_link_jsonl"
        )
    merged = merge_parallel_edges(edges).select(
        "url_a", "url_b", "status", "channels"
    )
    # guard the LINK side too: an edge-dense small-node graph can carry
    # far more edges than nodes (r3 ADVICE) — count before collecting
    n_links = merged.count()
    if n_links > max_rows:
        raise ValueError(
            f"graph too edge-dense to materialize driver-side ({n_links} "
            f"merged edges > {max_rows}); use export_node_link_jsonl"
        )
    nodes = assignments.select(
        "url", "cluster_id", "canonical_url"
    ).collect()
    links = merged.collect()
    return nodes, links


def node_link_dict(
    assignments: DataFrame, edges: DataFrame, max_rows: int = 100_000
) -> dict:
    """Driver-side node-link dict (knowledge_graph.py:331-339 shape) for
    reference-sized graphs; refuses to materialize beyond ``max_rows``."""
    nodes, links = _collect_graph(assignments, edges, max_rows)
    return {
        "directed": False,
        "multigraph": False,
        "nodes": [
            {
                "id": r["url"],
                "cluster_id": r["cluster_id"],
                "canonical_url": r["canonical_url"],
            }
            for r in nodes
        ],
        "links": [
            {
                "source": r["url_a"],
                "target": r["url_b"],
                "status": r["status"],
                "channels": r["channels"],
            }
            for r in links
        ],
    }


_NODE_ATTRS = ("cluster_id", "canonical_url")
_EDGE_ATTRS = ("status", "channels")


def export_graphml(
    assignments: DataFrame,
    edges: DataFrame,
    path: str,
    max_rows: int = 100_000,
) -> str:
    """GraphML export (reference export.py:212-219 — nx.write_graphml on
    the flattened merged-edge graph; yEd/Gephi/Cytoscape compatible).

    Driver-side guarded writer: GraphML is a single XML document with a
    global key table, so it is inherently a small-graph convenience
    format — the same ``max_rows`` cap as :func:`node_link_dict` applies
    (the distributed sink for large graphs is export_node_link_jsonl).
    """
    import xml.etree.ElementTree as ET

    nodes, links = _collect_graph(assignments, edges, max_rows)
    root = ET.Element(
        "graphml", xmlns="http://graphml.graphdrawing.org/xmlns"
    )
    key_ids = {}
    for i, (domain, name) in enumerate(
        [("node", a) for a in _NODE_ATTRS] + [("edge", a) for a in _EDGE_ATTRS]
    ):
        kid = f"d{i}"
        key_ids[(domain, name)] = kid
        ET.SubElement(
            root,
            "key",
            id=kid,
            attrib={"for": domain, "attr.name": name, "attr.type": "string"},
        )
    graph = ET.SubElement(root, "graph", edgedefault="undirected")
    for r in nodes:
        node = ET.SubElement(graph, "node", id=r["url"])
        for a in _NODE_ATTRS:
            d = ET.SubElement(node, "data", key=key_ids[("node", a)])
            d.text = str(r[a])
    for r in links:
        edge = ET.SubElement(graph, "edge", source=r["url_a"], target=r["url_b"])
        for a in _EDGE_ATTRS:
            d = ET.SubElement(edge, "data", key=key_ids[("edge", a)])
            d.text = str(r[a])
    ET.ElementTree(root).write(path, encoding="utf-8", xml_declaration=True)
    return path


def export_gexf(
    assignments: DataFrame,
    edges: DataFrame,
    path: str,
    max_rows: int = 100_000,
) -> str:
    """GEXF 1.2 export (reference export.py:222-229 — nx.write_gexf on the
    flattened merged-edge graph; Gephi's native format). Same driver-side
    row-cap posture as :func:`export_graphml`."""
    import xml.etree.ElementTree as ET

    nodes, links = _collect_graph(assignments, edges, max_rows)
    root = ET.Element(
        "gexf", xmlns="http://www.gexf.net/1.2draft", version="1.2"
    )
    graph = ET.SubElement(root, "graph", defaultedgetype="undirected")
    natts = ET.SubElement(graph, "attributes", attrib={"class": "node"})
    for i, a in enumerate(_NODE_ATTRS):
        ET.SubElement(
            natts, "attribute", id=str(i), title=a, type="string"
        )
    eatts = ET.SubElement(graph, "attributes", attrib={"class": "edge"})
    for i, a in enumerate(_EDGE_ATTRS):
        ET.SubElement(
            eatts, "attribute", id=str(i), title=a, type="string"
        )
    xml_nodes = ET.SubElement(graph, "nodes")
    for r in nodes:
        node = ET.SubElement(xml_nodes, "node", id=r["url"], label=r["url"])
        vals = ET.SubElement(node, "attvalues")
        for i, a in enumerate(_NODE_ATTRS):
            ET.SubElement(
                vals, "attvalue", attrib={"for": str(i), "value": str(r[a])}
            )
    xml_edges = ET.SubElement(graph, "edges")
    for j, r in enumerate(links):
        edge = ET.SubElement(
            xml_edges,
            "edge",
            id=str(j),
            source=r["url_a"],
            target=r["url_b"],
        )
        vals = ET.SubElement(edge, "attvalues")
        for i, a in enumerate(_EDGE_ATTRS):
            ET.SubElement(
                vals, "attvalue", attrib={"for": str(i), "value": str(r[a])}
            )
    ET.ElementTree(root).write(path, encoding="utf-8", xml_declaration=True)
    return path


def read_csv_export(spark, path: str) -> DataFrame:
    """Round-trip reader for export_csv output (schema inferred)."""
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


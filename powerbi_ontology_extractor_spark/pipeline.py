"""End-to-end KG-construction pipeline: corpus → triples (+ node/edge).

Mirrors the reference's `extract → generate → export` lifecycle
(/root/reference/powerbi_ontology/cli.py:63-106) as one lazy DataFrame
DAG: the whole corpus is one job, per-artifact failure isolation is the
permissive `from_json` (bad JSON → null struct → zero rows emitted,
never a thrown task), and the thread-pool batch loop
(cli.py:108-157) is simply cluster parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.layout import report_triples
from powerbi_ontology_extractor_spark.functions.mquery import m_datasource_triples
from powerbi_ontology_extractor_spark.operators.extract import (
    checkpoint_parallel,
    entities_df,
    hierarchies_df,
    measures_df,
    parse_models,
    properties_df,
    relationships_df,
    security_rules_df,
)
from powerbi_ontology_extractor_spark.operators.ontology import (
    business_rules_df,
    ontology_entities_from_models,
    ontology_relationships_df,
    suggest_enhancements,
)
from powerbi_ontology_extractor_spark.operators.constraints_io import (
    enhancement_property_constraints,
    sidecar_entity_constraints,
    sidecar_property_constraints,
)
from powerbi_ontology_extractor_spark.operators.triples import (
    DEFAULT_GENERATED_AT,
    DEFAULT_ROLES,
    TRIPLE_COLS,
    entity_constraint_triples,
    export_summary,
    export_triples,
    property_constraint_triples,
)


def _constraint_triples(corpus: DataFrame, onto_dfs: dict) -> DataFrame:
    """T7/T8 constraint families (owl.py:264-309): suggested validation
    constraints (ontology_generator.py:314-366 heuristics, applied as
    the reference's include_constraints=True export does) plus
    ontology-JSON sidecar constraints (the mcp_server.py:268-296 load
    path) including entity-level EntityConstraint bnodes."""
    pcs = enhancement_property_constraints(
        onto_dfs["enhancements"]
    ).unionByName(sidecar_property_constraints(corpus))
    ect = entity_constraint_triples(sidecar_entity_constraints(corpus))
    return property_constraint_triples(pcs).unionByName(ect)


def extract_generate(
    corpus: DataFrame,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """Extract + generate stage: models checkpoint → ONE concurrent
    checkpoint round for every frame the emission fan-out consumes
    (flat families + Arrow-parsed measures + typed entities).

    extract_all + generate_ontology run TWO serial rounds because
    parsed_measures/ontology_entities sit behind the extract stage in
    the API; in the pipeline everything derives from the models
    checkpoint, so one round suffices — each round costs max(job
    latency), and round latency is pure serial time that lands on the
    multi-executor level's denominator (measured ~6-10 s at 36k repos).
    The one round also lets the DAX Arrow-UDF job overlap the flat
    checkpoints: routed through the two-round API, the perfbench
    ``kg_full`` wall median rose 35.0 → 37.8 s (8 interleaved pairs,
    4 cores).
    """
    from powerbi_ontology_extractor_spark.functions.dax import parse_measures

    # models MUST be eager-checkpointed BEFORE the concurrent round:
    # concurrent jobs over an unmaterialized cache stampede it and
    # re-parse every model JSON 30-40x
    models = parse_models(corpus).localCheckpoint(eager=True)
    measures = measures_df(models, corpus)
    # NOTE: raw `measures` is deliberately NOT in the round — the
    # export union never scans it (only parsed_measures), and
    # checkpointing it both wasted a job and derived the frame twice
    # (measured +1.9 s at local[32]/400 repos)
    frames = {
        "datasets": models.select("repo", "dataset", "path").dropDuplicates(
            ["repo", "dataset"]
        ),
        "properties": properties_df(models),
        "relationships": relationships_df(models),
        "security_rules": security_rules_df(models),
        "parsed_measures": parse_measures(measures),
        "ontology_entities": ontology_entities_from_models(models),
    }
    ckpt = dict(zip(frames, checkpoint_parallel(list(frames.values()))))
    model_dfs = {
        "models": models,
        "entities": entities_df(models),
        "hierarchies": hierarchies_df(models),
        "measures": measures,
        "datasets": ckpt["datasets"],
        "properties": ckpt["properties"],
        "relationships": ckpt["relationships"],
        "security_rules": ckpt["security_rules"],
    }
    onto_dfs = {
        "parsed_measures": ckpt["parsed_measures"],
        "ontology_entities": ckpt["ontology_entities"],
        "ontology_relationships": ontology_relationships_df(
            ckpt["relationships"]
        ),
        "business_rules": business_rules_df(ckpt["parsed_measures"]),
        "enhancements": suggest_enhancements(ckpt["properties"]),
    }
    return model_dfs, onto_dfs


def _emit(
    corpus: DataFrame,
    model_dfs: dict[str, DataFrame],
    onto_dfs: dict[str, DataFrame],
    roles: list[str],
    generated_at: str,
) -> DataFrame:
    """The one place the triple set is assembled: OWL export ∪
    constraints ∪ M-datasource ∪ report, then ONE global set-dedup
    (two full-row dedup shuffles of long URI/literal strings was the
    flagship job's single biggest exchange)."""
    datasets = model_dfs["datasets"]
    return (
        export_triples(onto_dfs, model_dfs, roles, generated_at, dedup=False)
        .unionByName(_constraint_triples(corpus, onto_dfs))
        .unionByName(m_datasource_triples(corpus, datasets))
        .unionByName(report_triples(corpus, datasets))
        .dropDuplicates(TRIPLE_COLS)
    )


def build_triples(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
) -> DataFrame:
    """corpus (repo, path, commit, lang, content) → triples DF.

    The checkpoints of ``extract_generate`` stop the ~40-branch
    export union from re-scanning the parse (measured 6× wall-clock,
    and the difference between 0.61 and 0.81 N→4N scaling efficiency).
    """
    model_dfs, onto_dfs = extract_generate(corpus)
    return _emit(corpus, model_dfs, onto_dfs, roles, generated_at)


def build_triples_canonicalized(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    min_prop_jaccard: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Full north-star path: triples + cross-repo entity canonicalization
    (MinHash-LSH blocking → connected components → canonical IRIs)
    applied BEFORE node/edge materialization.

    Returns (canonical_triples, mapping).  Canonical triples carry
    subj_orig/obj_orig provenance columns.
    """
    from powerbi_ontology_extractor_spark.operators.canonicalize import (
        entity_canonical_mapping,
        rewrite_triples_canonical,
    )

    model_dfs, onto_dfs = extract_generate(corpus)
    triples = _emit(corpus, model_dfs, onto_dfs, roles, generated_at)
    mapping = entity_canonical_mapping(
        onto_dfs["ontology_entities"],
        model_dfs["properties"],
        min_prop_jaccard=min_prop_jaccard,
    )
    return rewrite_triples_canonical(triples, mapping), mapping


def nodes_edges(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Materialize the graph as node/edge tables (north-star output;
    replaces the reference's networkx DiGraph at
    utils/visualizer.py:39-68).

    nodes: every URI subject/object with its rdf:type (if any)
    edges: every URI→URI triple (non-literal objects)
    """
    uri_objs = triples.where(~F.col("obj_is_literal"))
    nodes = (
        triples.select("repo", "dataset", F.col("subj").alias("node"))
        .unionByName(
            uri_objs.select("repo", "dataset", F.col("obj").alias("node"))
        )
        .dropDuplicates()
        .join(
            triples.where(F.col("pred") == "rdf:type")
            .groupBy("repo", "dataset", F.col("subj").alias("node"))
            .agg(F.min("obj").alias("node_type")),
            ["repo", "dataset", "node"],
            "left",
        )
    )
    edges = uri_objs.select(
        "repo",
        "dataset",
        F.col("subj").alias("src"),
        F.col("pred").alias("rel"),
        F.col("obj").alias("dst"),
    )
    return nodes, edges


def _write(df: DataFrame, target: str, fmt: str) -> None:
    """Format-pluggable table write.

    - ``parquet`` (default): path-based, overwrite.
    - ``iceberg``: catalog-table based (``target`` is a table name like
      ``catalog.db.triples``) — requires an Iceberg runtime/catalog on
      the session (spark.sql.catalog.* conf); on a bare sandbox this
      raises Spark's own missing-catalog error rather than silently
      degrading.  The DataFrameWriterV2 ``createOrReplace`` carries the
      repartition through as the write distribution.
    """
    if fmt == "iceberg":
        df.writeTo(target).using("iceberg").createOrReplace()
    else:
        df.write.mode("overwrite").format(fmt).save(target)


def write_outputs(
    triples: DataFrame,
    out_dir: str,
    repo_buckets: int = 64,
    fmt: str = "parquet",
) -> DataFrame:
    """Persist triples + node/edge tables; return the written triples.

    The triple DAG executes once, for the ``triples`` write.  The node
    and edge tables are derived from that written table read back
    (``spark.table`` for iceberg, a file scan otherwise), never from
    the lazy ``triples`` frame, whose emission and set-dedup would
    otherwise run again for each of them.  The read-back frame is
    returned so callers count or summarise the graph without
    rebuilding it.

    Cluster posture: Iceberg tables partitioned by ``bucket(repo)``
    (``fmt="iceberg"`` with ``out_dir`` = ``catalog.db`` prefix);
    locally parquet with an explicit repartition on the same key so the
    file layout matches what a 1000-executor write would produce.
    """
    sep = "." if fmt == "iceberg" else "/"
    target = f"{out_dir}{sep}triples"
    _write(triples.repartition(repo_buckets, "repo"), target, fmt)
    spark = triples.sparkSession
    if fmt == "iceberg":
        written = spark.table(target)
    else:
        written = spark.read.format(fmt).load(target)
    nodes, edges = nodes_edges(written)
    small = max(repo_buckets // 4, 1)
    _write(nodes.repartition(small, "repo"), f"{out_dir}{sep}nodes", fmt)
    _write(edges.repartition(small, "repo"), f"{out_dir}{sep}edges", fmt)
    return written


__all__ = [
    "extract_generate",
    "build_triples",
    "nodes_edges",
    "write_outputs",
    "export_summary",
]

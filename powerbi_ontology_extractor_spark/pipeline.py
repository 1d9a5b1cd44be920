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
    extract_all,
    hierarchies_df,
    measures_df,
    parse_models,
    properties_df,
    relationships_df,
    security_rules_df,
)
from powerbi_ontology_extractor_spark.operators.ontology import (
    business_rules_df,
    generate_ontology,
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


def _constraint_triples(
    corpus: DataFrame, onto_dfs: dict, prebuilt: dict | None = None
) -> DataFrame:
    """T7/T8 constraint families (owl.py:264-309): suggested validation
    constraints (ontology_generator.py:314-366 heuristics, applied as
    the reference's include_constraints=True export does) plus
    ontology-JSON sidecar constraints (the mcp_server.py:268-296 load
    path) including entity-level EntityConstraint bnodes.

    ``prebuilt`` may carry the corpus-only sidecar frames constructed
    during the barrier overlap (same builders, same args — identical
    DAGs, just built earlier)."""
    pre = prebuilt or {}
    pcs = enhancement_property_constraints(
        onto_dfs["enhancements"]
    ).unionByName(
        pre.get("sidecar_pcs")
        if pre.get("sidecar_pcs") is not None
        else sidecar_property_constraints(corpus)
    )
    ect = (
        pre.get("sidecar_ect")
        if pre.get("sidecar_ect") is not None
        else entity_constraint_triples(sidecar_entity_constraints(corpus))
    )
    return property_constraint_triples(pcs).unionByName(ect)


# barrier="auto" probes corpus size (one count job on the
# lang='model_json' slice — partition-pruned on the lang-partitioned
# layout) and skips the flat-family checkpoint rounds below this many
# models.  Measured r3 (fresh-JVM, interleaved, min-of-3): full
# barriers ≤ light at BOTH 6 repos (8.8 vs 10.1 s) and 400 repos
# (12.2 vs 13.2 s), and they are what holds N→4N scaling efficiency
# ≥ 0.8 at 24k repos — so the default is True (always full); "auto"
# remains for callers who want the probe.
BARRIER_MIN_MODELS = 2000


def _full_barriers(corpus: DataFrame, barrier: str | bool) -> bool:
    if barrier == "auto":
        return (
            corpus.where(F.col("lang") == "model_json").count()
            >= BARRIER_MIN_MODELS
        )
    return bool(barrier)


def _extract_generate_single_barrier(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    prebuild_latent: bool = False,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame], dict[str, DataFrame]]:
    """models checkpoint → ONE concurrent barrier round for every frame
    the emission fan-out consumes (flat families + Arrow-parsed
    measures + typed entities).

    extract_all + generate_ontology run TWO serial rounds because
    parsed_measures/ontology_entities sit behind the extract stage in
    the API; in the pipeline everything derives from the models
    checkpoint, so one round suffices — each round costs max(job
    latency), and round latency is pure serial time that lands on the
    multi-executor level's denominator (measured ~6-10 s at 36k repos).

    r6: the round is submitted as FUTURES and the driver builds every
    family whose inputs are only (corpus, datasets) — sidecar
    constraints, metadata, base classes, and (``prebuild_latent``) the
    M-datasource/report families — WHILE the remaining five checkpoints
    execute.  py4j expression construction is driver-only, the
    checkpoint threads just block on the JVM, so the ~0.7 s of build
    fully hides the family-round latency (measured rest_wait=0.00 at
    400 repos).  Returned ``prebuilt`` frames are the SAME builders
    with the SAME args — identical DAGs, just constructed earlier.
    """
    from concurrent.futures import ThreadPoolExecutor

    from powerbi_ontology_extractor_spark.functions.dax import parse_measures
    from powerbi_ontology_extractor_spark.operators.extract import (
        checkpoint_one,
        ckpt_coalesce_target,
    )
    from powerbi_ontology_extractor_spark.operators.triples import (
        base_class_triples,
        ontology_metadata_triples,
    )

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
    target = ckpt_coalesce_target(corpus)
    prebuilt: dict[str, DataFrame] = {}
    with ThreadPoolExecutor(max_workers=len(frames)) as ex:
        futs = {
            k: ex.submit(checkpoint_one, v, target) for k, v in frames.items()
        }
        # corpus-only families: buildable before ANY checkpoint lands
        prebuilt["sidecar_pcs"] = sidecar_property_constraints(corpus)
        prebuilt["sidecar_ect"] = entity_constraint_triples(
            sidecar_entity_constraints(corpus)
        )
        datasets = futs["datasets"].result()
        prebuilt["metadata"] = ontology_metadata_triples(datasets, generated_at)
        prebuilt["base_class"] = base_class_triples(datasets, roles)
        if prebuild_latent:
            prebuilt["m_datasource"] = m_datasource_triples(corpus, datasets)
            prebuilt["report"] = report_triples(corpus, datasets)
        ckpt = {k: futs[k].result() for k in frames}
    ckpt["datasets"] = datasets
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
    return model_dfs, onto_dfs, prebuilt


def build_triples(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    include_latent_surfaces: bool = True,
    barrier: str | bool = True,
) -> DataFrame:
    """corpus (repo, path, commit, lang, content) → triples DF.

    ``barrier``: True (default) materializes the full stage-boundary
    set — models + parsed-measures checkpoints plus the flat-family
    rounds that stop the ~40-branch export union from re-scanning the
    parse (measured 6× wall-clock, and the difference between 0.61 and
    0.81 N→4N scaling efficiency).  False keeps only the essential
    models/parsed checkpoints; "auto" probes corpus size and picks
    (see BARRIER_MIN_MODELS — full won at every scale measured, so the
    default stays True).
    """
    full = _full_barriers(corpus, barrier)
    prebuilt: dict = {}
    if full:
        model_dfs, onto_dfs, prebuilt = _extract_generate_single_barrier(
            corpus, roles, generated_at,
            prebuild_latent=include_latent_surfaces,
        )
    else:
        model_dfs = extract_all(corpus, materialize=True, family_barrier=False)
        onto_dfs = generate_ontology(model_dfs, materialize=False)
    triples = export_triples(
        onto_dfs, model_dfs, roles, generated_at, dedup=False,
        prebuilt=prebuilt,
    )
    triples = triples.unionByName(
        _constraint_triples(corpus, onto_dfs, prebuilt)
    )
    if include_latent_surfaces:
        m_ds = prebuilt.get("m_datasource")
        if m_ds is None:
            m_ds = m_datasource_triples(corpus, model_dfs["datasets"])
        rpt = prebuilt.get("report")
        if rpt is None:
            rpt = report_triples(corpus, model_dfs["datasets"])
        triples = triples.unionByName(m_ds).unionByName(rpt)
    return triples.dropDuplicates(TRIPLE_COLS)


def build_triples_canonicalized(
    corpus: DataFrame,
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    min_prop_jaccard: float = 0.5,
    barrier: str | bool = True,
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

    full = _full_barriers(corpus, barrier)
    prebuilt: dict = {}
    if full:
        model_dfs, onto_dfs, prebuilt = _extract_generate_single_barrier(
            corpus, roles, generated_at, prebuild_latent=True
        )
    else:
        model_dfs = extract_all(corpus, materialize=True, family_barrier=False)
        onto_dfs = generate_ontology(model_dfs, materialize=False)
    triples = export_triples(
        onto_dfs, model_dfs, roles, generated_at, dedup=False,
        prebuilt=prebuilt,
    )
    m_ds = prebuilt.get("m_datasource")
    if m_ds is None:
        m_ds = m_datasource_triples(corpus, model_dfs["datasets"])
    rpt = prebuilt.get("report")
    if rpt is None:
        rpt = report_triples(corpus, model_dfs["datasets"])
    triples = (
        triples.unionByName(_constraint_triples(corpus, onto_dfs, prebuilt))
        .unionByName(m_ds)
        .unionByName(rpt)
    )
    triples = triples.dropDuplicates(TRIPLE_COLS)
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
    "build_triples",
    "nodes_edges",
    "write_outputs",
    "export_summary",
]

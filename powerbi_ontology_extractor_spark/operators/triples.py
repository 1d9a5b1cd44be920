"""Triple emission: ontology DataFrames → (subj, pred, obj) rows.

Output contract = the reference's rdflib emission grammar
(/root/reference/powerbi_ontology/export/owl.py) expressed as
``select``/``explode`` families + ``unionByName``.  Each family
function below maps 1:1 to an ``_add_*`` method and is cited.

Key re-expressions forced by the distributed model:
- rdflib ``Graph`` is a *set* → the final union applies
  ``dropDuplicates`` over the full triple (per repo+dataset namespace).
- rdflib ``BNode()`` identity → deterministic IRIs
  ``_:r_sha1(dataset|entity|property)`` (owl.py:252 creates one
  restriction bnode per required property).
- ``datetime.now()`` metadata (generator :152) → injected
  ``generated_at`` parameter so runs diff cleanly.

Triple row: (repo, dataset, subj, pred, obj, obj_is_literal,
obj_datatype).  URIs are prefixed names (``ont:``, ``rdf:``, ``rdfs:``,
``owl:``, ``xsd:``) — the ``ont:`` namespace is per-(repo, dataset).

Scale notes: every family is a narrow projection of an already-shuffled
ontology DF; the CRUD family (owl.py:386-409) is an explicit
``crossJoin`` against a 12-row literal frame (broadcast by
construction).  The union tree is pure map-side; the one shuffle is the
final ``dropDuplicates``, partitioned by (repo, dataset, subj) —
write-side this becomes the Iceberg ``bucket(repo)`` layout.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from powerbi_ontology_extractor_spark.functions.naming import (
    map_to_xsd,
    safe_name,
    sanitize_dax,
)

TRIPLE_COLS = [
    "repo",
    "dataset",
    "subj",
    "pred",
    "obj",
    "obj_is_literal",
    "obj_datatype",
]

DEFAULT_ROLES = ["Admin", "Analyst", "Viewer"]
DEFAULT_GENERATED_AT = "1970-01-01T00:00:00"


def _uri(*parts: Column | str) -> Column:
    cols = [F.lit(p) if isinstance(p, str) else p for p in parts]
    return F.concat(*cols)


def _rows(
    df: DataFrame, triples: list[tuple[Column, str, Column, bool, str]]
) -> DataFrame:
    """Emit one output row per (input row × triple spec), dropping specs
    whose obj is null (the reference's ``if field:`` guards)."""
    structs = F.array_compact(
        F.array(
            *[
                F.when(
                    obj.isNotNull(),
                    F.struct(
                        subj.alias("subj"),
                        F.lit(pred).alias("pred"),
                        obj.alias("obj"),
                        F.lit(is_lit).alias("obj_is_literal"),
                        F.lit(dt).alias("obj_datatype"),
                    ),
                )
                for (subj, pred, obj, is_lit, dt) in triples
            ]
        )
    )
    return df.select(
        "repo", "dataset", F.explode(structs).alias("t")
    ).select("repo", "dataset", "t.*")


def _lit(col: Column | str) -> Column:
    """Literal object; empty string → null (reference ``if x:`` guard)."""
    c = F.lit(col) if isinstance(col, str) else col
    return F.nullif(c, F.lit(""))


def datasets_df(models: DataFrame) -> DataFrame:
    """(repo, dataset, path) — one row per exported ontology.  Callers
    inside the pipeline should pass the pre-materialized ``datasets``
    frame from extract_all instead of re-deriving from ``models``."""
    if set(models.columns) == {"repo", "dataset", "path"}:
        return models
    return models.select("repo", "dataset", "path").dropDuplicates(
        ["repo", "dataset"]
    )


def ontology_metadata_triples(
    models: DataFrame, generated_at: str = DEFAULT_GENERATED_AT
) -> DataFrame:
    """owl.py:114-127 — ontology node: type/label/comment/versionInfo +
    one ``ont:meta_<key>`` per metadata entry (generation_date,
    source_model — generator :147-155)."""
    d = datasets_df(models)
    onto = _uri("ont:", safe_name(F.col("dataset")), "_Ontology")
    name = F.concat(F.col("dataset"), F.lit("_Ontology"))
    return _rows(
        d,
        [
            (onto, "rdf:type", F.lit("owl:Ontology"), False, ""),
            (onto, "rdfs:label", name, True, ""),
            (
                onto,
                "rdfs:comment",
                F.concat(F.lit("Ontology from Power BI: "), F.col("path")),
                True,
                "",
            ),
            (onto, "owl:versionInfo", F.lit("1.0.0"), True, ""),
            (onto, "ont:meta_generation_date", F.lit(generated_at), True, ""),
            (onto, "ont:meta_source_model", F.col("dataset"), True, ""),
        ],
    )


def _static_base_rows(roles: list[str]) -> list[tuple[str, str, str, bool, str]]:
    """The fixed OntoGuard catalog (owl.py:129-181): 44 triples with the
    3 default roles."""
    rows: list[tuple[str, str, str, bool, str]] = [
        ("ont:User", "rdf:type", "owl:Class", False, ""),
        ("ont:User", "rdfs:label", "User", True, ""),
        ("ont:User", "rdfs:comment", "Base class for user roles", True, ""),
        ("ont:Action", "rdf:type", "owl:Class", False, ""),
        ("ont:Action", "rdfs:label", "Action", True, ""),
        ("ont:Action", "rdfs:comment", "Base class for actions", True, ""),
    ]
    for a in ["ReadAction", "WriteAction", "DeleteAction", "ExecuteAction"]:
        rows += [
            (f"ont:{a}", "rdf:type", "owl:Class", False, ""),
            (f"ont:{a}", "rdfs:subClassOf", "ont:Action", False, ""),
            (f"ont:{a}", "rdfs:label", a, True, ""),
        ]
    rows += [
        ("ont:requiresRole", "rdf:type", "owl:ObjectProperty", False, ""),
        ("ont:requiresRole", "rdfs:label", "requiresRole", True, ""),
        ("ont:requiresRole", "rdfs:comment",
         "Role required to perform this action", True, ""),
        ("ont:requiresRole", "rdfs:domain", "ont:Action", False, ""),
        ("ont:requiresRole", "rdfs:range", "ont:User", False, ""),
        ("ont:appliesTo", "rdf:type", "owl:ObjectProperty", False, ""),
        ("ont:appliesTo", "rdfs:label", "appliesTo", True, ""),
        ("ont:appliesTo", "rdfs:comment",
         "Entity this action applies to", True, ""),
        ("ont:appliesTo", "rdfs:domain", "ont:Action", False, ""),
        ("ont:allowsAction", "rdf:type", "owl:DatatypeProperty", False, ""),
        ("ont:allowsAction", "rdfs:label", "allowsAction", True, ""),
        ("ont:allowsAction", "rdfs:comment", "Action type allowed", True, ""),
        ("ont:allowsAction", "rdfs:range", "xsd:string", False, ""),
        ("ont:appliesToProperty", "rdf:type", "owl:DatatypeProperty", False, ""),
        ("ont:appliesToProperty", "rdfs:label", "appliesToProperty", True, ""),
        ("ont:appliesToProperty", "rdfs:comment",
         "Property this action applies to", True, ""),
        ("ont:appliesToProperty", "rdfs:range", "xsd:string", False, ""),
    ]
    for role in roles:
        safe = role.replace(" ", "_").replace("-", "_").replace(".", "_")
        rows += [
            (f"ont:{safe}", "rdf:type", "owl:Class", False, ""),
            (f"ont:{safe}", "rdfs:subClassOf", "ont:User", False, ""),
            (f"ont:{safe}", "rdfs:label", role, True, ""),
        ]
    return rows


def base_class_triples(
    models: DataFrame, roles: list[str] = DEFAULT_ROLES
) -> DataFrame:
    """Static catalog × datasets — a literal frame crossJoined against
    the (small) dataset list; broadcast by construction."""
    spark = models.sparkSession
    static = spark.createDataFrame(
        _static_base_rows(roles),
        "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string",
    )
    return (
        datasets_df(models)
        .select("repo", "dataset")
        .crossJoin(F.broadcast(static))
        .select(*TRIPLE_COLS)
    )


def entity_triples(ontology_entities: DataFrame) -> DataFrame:
    """owl.py:183-199 — dataset→table schema triples."""
    ontology_entities = ontology_entities.withColumn(
        "_ent", _uri("ont:", safe_name(F.col("entity")))
    )
    e = F.col("_ent")
    return _rows(
        ontology_entities,
        [
            (e, "rdf:type", F.lit("owl:Class"), False, ""),
            (e, "rdfs:label", F.col("entity"), True, ""),
            (e, "rdfs:comment", _lit(F.col("description")), True, ""),
            (e, "ont:entityType", _lit(F.col("entity_type")), True, ""),
            (e, "ont:sourceTable", _lit(F.col("source_table")), True, ""),
        ],
    )


def property_triples(properties: DataFrame) -> DataFrame:
    """owl.py:210-242 — table→column schema triples, plus the
    FunctionalProperty tag for unique columns and the 4-triple
    minCardinality restriction for required columns (owl.py:244-262,
    deterministic bnode IRI)."""
    # precompute URI columns once: duplicating the concat/translate
    # trees into every triple spec multiplies codegen size ~10x
    properties = properties.withColumn(
        "_ent", _uri("ont:", safe_name(F.col("entity")))
    ).withColumn(
        "_prop",
        _uri("ont:", safe_name(F.col("entity")), "_", safe_name(F.col("property"))),
    )
    ent = F.col("_ent")
    prop = F.col("_prop")
    base = _rows(
        properties,
        [
            (prop, "rdf:type", F.lit("owl:DatatypeProperty"), False, ""),
            (prop, "rdfs:label", F.col("property"), True, ""),
            (prop, "rdfs:domain", ent, False, ""),
            (prop, "rdfs:range", map_to_xsd(F.col("data_type")), False, ""),
            (prop, "rdfs:comment", _lit(F.col("description")), True, ""),
            (prop, "ont:sourceColumn", _lit(F.col("source_column")), True, ""),
            (
                prop,
                "rdf:type",
                F.when(F.col("unique"), F.lit("owl:FunctionalProperty")),
                False,
                "",
            ),
        ],
    )
    required_df = properties.where(F.col("required")).withColumn(
        "_bnode",
        F.concat(
            F.lit("_:r_"),
            F.sha1(
                F.concat_ws("|", F.col("dataset"), F.col("entity"), F.col("property"))
            ),
        ),
    )
    bnode = F.col("_bnode")
    required = _rows(
        required_df,
        [
            (bnode, "rdf:type", F.lit("owl:Restriction"), False, ""),
            (bnode, "owl:onProperty", prop, False, ""),
            (
                bnode,
                "owl:minCardinality",
                F.lit("1"),
                True,
                "xsd:nonNegativeInteger",
            ),
            (ent, "rdfs:subClassOf", bnode, False, ""),
        ],
    )
    return base.unionByName(required)


def relationship_triples(ontology_relationships: DataFrame) -> DataFrame:
    """owl.py:311-338 — FK relationship edges as object properties."""
    ontology_relationships = (
        ontology_relationships.withColumn(
            "_rel",
            _uri(
                "ont:",
                safe_name(
                    F.concat_ws(
                        "_",
                        F.col("from_entity"),
                        F.col("relationship_type"),
                        F.col("to_entity"),
                    )
                ),
            ),
        )
        .withColumn("_from", _uri("ont:", safe_name(F.col("from_entity"))))
        .withColumn("_to", _uri("ont:", safe_name(F.col("to_entity"))))
    )
    rel = F.col("_rel")
    return _rows(
        ontology_relationships,
        [
            (rel, "rdf:type", F.lit("owl:ObjectProperty"), False, ""),
            (rel, "rdfs:label", F.col("relationship_type"), True, ""),
            (rel, "rdfs:domain", F.col("_from"), False, ""),
            (rel, "rdfs:range", F.col("_to"), False, ""),
            (rel, "rdfs:comment", _lit(F.col("description")), True, ""),
            (rel, "ont:sourceRelationship", _lit(F.col("source_relationship")), True, ""),
            (rel, "ont:cardinality", F.col("cardinality"), True, ""),
            (rel, "ont:fromProperty", _lit(F.col("from_property")), True, ""),
            (rel, "ont:toProperty", _lit(F.col("to_property")), True, ""),
        ],
    )


def business_rule_triples(business_rules: DataFrame) -> DataFrame:
    """owl.py:340-384 — rule class + rule instance with sanitized DAX
    condition (measure→rule lineage)."""
    business_rules = business_rules.withColumn(
        "_cls", _uri("ont:", safe_name(F.col("name")), "Rule")
    ).withColumn(
        "_inst", _uri("ont:", safe_name(F.col("name")), "RuleInstance")
    ).withColumn("_ent_uri", _uri("ont:", safe_name(F.col("entity"))))
    rule_cls = F.col("_cls")
    rule_inst = F.col("_inst")
    return _rows(
        business_rules,
        [
            (rule_cls, "rdf:type", F.lit("owl:Class"), False, ""),
            (rule_cls, "rdfs:subClassOf", F.lit("ont:Action"), False, ""),
            (rule_cls, "rdfs:label", F.col("name"), True, ""),
            (rule_cls, "rdfs:comment", _lit(F.col("description")), True, ""),
            (rule_inst, "rdf:type", rule_cls, False, ""),
            (
                rule_inst,
                "ont:appliesTo",
                F.when(
                    _lit(F.col("entity")).isNotNull(), F.col("_ent_uri")
                ),
                False,
                "",
            ),
            (
                rule_inst,
                "ont:condition",
                _lit(sanitize_dax(F.col("condition"))),
                True,
                "",
            ),
            (rule_inst, "ont:ruleAction", _lit(F.col("action")), True, ""),
            (rule_inst, "ont:classification", _lit(F.col("classification")), True, ""),
            (
                rule_inst,
                "ont:priority",
                F.col("priority").cast("string"),
                True,
                "xsd:integer",
            ),
            (rule_inst, "ont:sourceMeasure", _lit(F.col("source_measure")), True, ""),
        ],
    )


def crud_triples(
    ontology_entities: DataFrame, roles: list[str] = DEFAULT_ROLES
) -> DataFrame:
    """owl.py:386-409 — entities × {read,create,update,delete} × roles,
    4 triples each: the dominant family by volume.  Expressed as an
    explicit crossJoin with a 4×|roles| literal frame (broadcast)."""
    spark = ontology_entities.sparkSession
    action_cls = {
        "read": "ont:ReadAction",
        "create": "ont:WriteAction",
        "update": "ont:WriteAction",
        "delete": "ont:DeleteAction",
    }
    combos = [
        (action, cls, role)
        for action, cls in action_cls.items()
        for role in roles
    ]
    combo_df = spark.createDataFrame(
        combos, "action string, action_class string, role string"
    )
    df = ontology_entities.select("repo", "dataset", "entity").crossJoin(
        F.broadcast(combo_df)
    )
    df = (
        df.withColumn(
            "_subj",
            _uri(
                "ont:", F.col("action"), "_", safe_name(F.col("entity")),
                "_", safe_name(F.col("role")),
            ),
        )
        .withColumn("_ent_uri", _uri("ont:", safe_name(F.col("entity"))))
        .withColumn("_role_uri", _uri("ont:", safe_name(F.col("role"))))
    )
    subj = F.col("_subj")
    return _rows(
        df,
        [
            (subj, "rdf:type", F.col("action_class"), False, ""),
            (subj, "ont:appliesTo", F.col("_ent_uri"), False, ""),
            (subj, "ont:requiresRole", F.col("_role_uri"), False, ""),
            (subj, "ont:allowsAction", F.col("action"), True, ""),
        ],
    )


def rls_triples(security_rules: DataFrame, models: DataFrame) -> DataFrame:
    # `models` may be the pre-derived datasets frame
    """owl.py:411-455 — RLS rules as ReadAction instances.

    The 3 one-time daxFilter property triples are emitted per dataset
    (the reference adds them whenever add_rls_rules is called); the
    role-class triples are emitted unconditionally and rely on the
    final set-dedup (the reference's graph-membership check :427 has
    the same effect)."""
    d = datasets_df(models)
    dax_prop = _rows(
        d,
        [
            (F.lit("ont:daxFilter"), "rdf:type", F.lit("owl:DatatypeProperty"), False, ""),
            (F.lit("ont:daxFilter"), "rdfs:label", F.lit("daxFilter"), True, ""),
            (
                F.lit("ont:daxFilter"),
                "rdfs:comment",
                F.lit("DAX filter expression for RLS"),
                True,
                "",
            ),
        ],
    )
    security_rules = security_rules.withColumn(
        "_role_uri", _uri("ont:", safe_name(F.col("role")))
    ).withColumn(
        "_rls",
        _uri("ont:RLS_", safe_name(F.col("role")), "_", safe_name(F.col("table"))),
    )
    role_uri = F.col("_role_uri")
    rls = F.col("_rls")
    per_rule = _rows(
        security_rules,
        [
            (role_uri, "rdf:type", F.lit("owl:Class"), False, ""),
            (role_uri, "rdfs:subClassOf", F.lit("ont:User"), False, ""),
            (role_uri, "rdfs:label", F.col("role"), True, ""),
            (rls, "rdf:type", F.lit("ont:ReadAction"), False, ""),
            (
                rls,
                "rdfs:label",
                F.concat(
                    F.lit("RLS: "), F.col("role"), F.lit(" on "), F.col("table")
                ),
                True,
                "",
            ),
            (rls, "ont:appliesTo", _uri("ont:", safe_name(F.col("table"))), False, ""),
            (rls, "ont:requiresRole", role_uri, False, ""),
            (rls, "ont:daxFilter", _lit(sanitize_dax(F.col("dax_filter"))), True, ""),
            (rls, "rdfs:comment", _lit(F.col("description")), True, ""),
            (rls, "ont:isRLSRule", F.lit("true"), True, "xsd:boolean"),
        ],
    )
    return dax_prop.unionByName(per_rule)


def _decimal_literal(c: Column) -> Column:
    """Render a double the way rdflib renders ``Literal(v, XSD.decimal)``
    for the values the reference passes (ints stay ints: 0 → "0",
    0.5 → "0.5")."""
    return F.when(
        c == F.floor(c), c.cast("long").cast("string")
    ).otherwise(c.cast("string"))


def property_constraint_triples(property_constraints: DataFrame) -> DataFrame:
    """owl.py:264-299 (T7) — property-level constraints as annotations:
    range → ont:minValue/ont:maxValue (xsd:decimal), regex →
    ont:pattern, enum → one ont:enumValue_<i> per value (posexplode),
    reference → ont:references, plus ont:constraintMessage when a
    message is present.

    Input frame: see constraints_io.PROPERTY_CONSTRAINT_COLS.
    """
    pcs = property_constraints.withColumn(
        "_prop",
        _uri("ont:", safe_name(F.col("entity")), "_", safe_name(F.col("property"))),
    )
    prop = F.col("_prop")
    is_type = lambda t: F.col("constraint_type") == t
    base = _rows(
        pcs,
        [
            (
                prop,
                "ont:minValue",
                F.when(is_type("range"), _decimal_literal(F.col("min_value"))),
                True,
                "xsd:decimal",
            ),
            (
                prop,
                "ont:maxValue",
                F.when(is_type("range"), _decimal_literal(F.col("max_value"))),
                True,
                "xsd:decimal",
            ),
            (prop, "ont:pattern", F.when(is_type("regex"), _lit(F.col("pattern"))), True, ""),
            (
                prop,
                "ont:references",
                F.when(is_type("reference"), _lit(F.col("reference"))),
                True,
                "",
            ),
            (prop, "ont:constraintMessage", _lit(F.col("message")), True, ""),
        ],
    )
    # enum: the predicate itself is indexed (owl.py:292) — needs a
    # dynamic pred column, so it cannot go through the static-spec _rows
    enum = (
        pcs.where(is_type("enum") & F.col("enum_values").isNotNull())
        .select(
            "repo",
            "dataset",
            prop.alias("subj"),
            F.posexplode("enum_values").alias("i", "val"),
        )
        .select(
            "repo",
            "dataset",
            "subj",
            F.concat(F.lit("ont:enumValue_"), F.col("i").cast("string")).alias(
                "pred"
            ),
            F.col("val").alias("obj"),
            F.lit(True).alias("obj_is_literal"),
            F.lit("").alias("obj_datatype"),
        )
    )
    return base.unionByName(enum)


def entity_constraint_triples(entity_constraints: DataFrame) -> DataFrame:
    """owl.py:301-309 (T8) — entity-level constraints as
    ont:EntityConstraint bnodes (deterministic bnode IRIs, same scheme
    as the required-property restriction bnodes).

    Input frame: (repo, dataset, entity, constraint_type, value,
    message).
    """
    ecs = entity_constraints.withColumn(
        "_ent", _uri("ont:", safe_name(F.col("entity")))
    ).withColumn(
        "_bnode",
        F.concat(
            F.lit("_:ec_"),
            F.sha1(
                F.concat_ws(
                    "|",
                    F.col("dataset"),
                    F.col("entity"),
                    F.col("constraint_type"),
                    F.col("value"),
                )
            ),
        ),
    )
    b = F.col("_bnode")
    return _rows(
        ecs,
        [
            (b, "rdf:type", F.lit("ont:EntityConstraint"), False, ""),
            (b, "ont:constraintType", _lit(F.col("constraint_type")), True, ""),
            (b, "ont:constraintValue", _lit(F.col("value")), True, ""),
            (b, "rdfs:comment", _lit(F.col("message")), True, ""),
            (F.col("_ent"), "ont:hasConstraint", b, False, ""),
        ],
    )


def lineage_triples(parsed_measures: DataFrame) -> DataFrame:
    """measure→depends_on→column lineage (north-star surface beyond the
    reference's OWL export; dependency grammar = dax_parser.py:262-287).

    ``Table.Column`` deps resolve to the property IRI
    ``ont:<Table>_<Column>`` (same scheme as property_triples);
    ``Table.*`` deps resolve to the entity IRI."""
    m = parsed_measures.select(
        "repo",
        "dataset",
        "table",
        "measure",
        "measure_type",
        F.explode_outer("lineage_deps").alias("dep"),
    )
    heads = parsed_measures.select(
        "repo", "dataset", "table", "measure", "measure_type"
    ).withColumn("_subj", _uri("ont:measure_", safe_name(F.col("measure"))))
    m = m.withColumn(
        "_subj", _uri("ont:measure_", safe_name(F.col("measure")))
    )
    subj = F.col("_subj")
    dep_uri = F.when(
        F.col("dep").endswith(".*"),
        _uri("ont:", safe_name(F.expr("rtrim('.*', dep)"))),
    ).otherwise(_uri("ont:", safe_name(F.col("dep"))))
    head = _rows(
        heads,
        [
            (subj, "rdf:type", F.lit("ont:Measure"), False, ""),
            (subj, "ont:measureType", F.col("measure_type"), True, ""),
            (subj, "ont:inTable", _uri("ont:", safe_name(F.col("table"))), False, ""),
        ],
    )
    deps = _rows(
        m.where(F.col("dep").isNotNull()),
        [(subj, "ont:dependsOn", dep_uri, False, "")],
    )
    return head.unionByName(deps)


def export_triples(
    ontology_dfs: dict[str, DataFrame],
    model_dfs: dict[str, DataFrame],
    roles: list[str] = DEFAULT_ROLES,
    generated_at: str = DEFAULT_GENERATED_AT,
    include_lineage: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Full OWL export (owl.py:79-112 orchestration): union of all
    families + set dedup.  Matches the reference graph triple-for-triple
    per (repo, dataset) on the model/ontology families.

    ``dedup=False`` skips the set-dedup shuffle — for callers (the full
    pipeline) that union further families and apply ONE global dedup at
    the end; two full-row dedup shuffles of long URI/literal strings
    was the flagship job's single biggest exchange."""
    datasets = model_dfs.get("datasets")
    if datasets is None:
        datasets = datasets_df(model_dfs["models"])
    fams = [
        ontology_metadata_triples(datasets, generated_at),
        base_class_triples(datasets, roles),
        entity_triples(ontology_dfs["ontology_entities"]),
        property_triples(model_dfs["properties"]),
        relationship_triples(ontology_dfs["ontology_relationships"]),
        business_rule_triples(ontology_dfs["business_rules"]),
        crud_triples(ontology_dfs["ontology_entities"], roles),
        rls_triples(model_dfs["security_rules"], datasets),
    ]
    if include_lineage:
        fams.append(lineage_triples(ontology_dfs["parsed_measures"]))
    union = reduce(lambda a, b: a.unionByName(b), fams)
    return union.dropDuplicates(TRIPLE_COLS) if dedup else union


_PREFIX_BASES = {
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "owl:": "http://www.w3.org/2002/07/owl#",
    "xsd:": "http://www.w3.org/2001/XMLSchema#",
}


def ntriples_lines(
    triples: DataFrame,
    base_uri_prefix: str = "http://example.com/ontologies/",
) -> DataFrame:
    """T14 serialize: one N-Triples line per triple (owl.py:79-112's
    ``serialize``; rdflib's format choice collapses to line rendering
    once the graph IS the table).  The ``ont:`` namespace expands
    per-dataset (the reference's per-ontology base URI); bnode subjects
    pass through.  Narrow map — a distributed ``.write.text`` sink."""

    def expand(col: Column) -> Column:
        ont_base = F.concat(
            F.lit(base_uri_prefix), safe_name(F.col("dataset")), F.lit("#")
        )
        out = F.when(
            col.startswith("_:"), col
        ).when(
            col.startswith("ont:"),
            F.concat(F.lit("<"), ont_base, F.substring(col, 5, 1 << 20), F.lit(">")),
        )
        for p, base in _PREFIX_BASES.items():
            out = out.when(
                col.startswith(p),
                F.concat(
                    F.lit("<" + base),
                    F.substring(col, len(p) + 1, 1 << 20),
                    F.lit(">"),
                ),
            )
        return out.otherwise(F.concat(F.lit("<"), col, F.lit(">")))

    # NB: Java regexp replacement strings unescape `\x` — the quote
    # escape needs a DOUBLED backslash in the replacement or the output
    # is a bare `"` (invalid N-Triples; caught by the q_ntriples_render
    # DuckDB oracle)
    lit_escaped = F.regexp_replace(
        F.regexp_replace(F.col("obj"), r"\\", r"\\\\"), '"', '\\\\"'
    )
    obj = F.when(
        F.col("obj_is_literal"),
        F.when(
            F.col("obj_datatype") != "",
            F.concat(
                F.lit('"'), lit_escaped, F.lit('"^^'),
                expand(F.col("obj_datatype")),
            ),
        ).otherwise(F.concat(F.lit('"'), lit_escaped, F.lit('"'))),
    ).otherwise(expand(F.col("obj")))
    return triples.select(
        "repo",
        "dataset",
        F.concat_ws(
            " ", expand(F.col("subj")), expand(F.col("pred")), obj, F.lit(".")
        ).alias("ntriple"),
    )


def export_summary(triples: DataFrame) -> DataFrame:
    """owl.py:513-548 — per-dataset counts: total triples, classes,
    datatype/object properties, action-rule instances."""
    is_type = F.col("pred") == "rdf:type"
    action_objs = [f"ont:{a}" for a in
                   ["ReadAction", "WriteAction", "DeleteAction", "ExecuteAction"]]
    return triples.groupBy("repo", "dataset").agg(
        F.count("*").alias("total_triples"),
        F.count_distinct(
            F.when(is_type & (F.col("obj") == "owl:Class"), F.col("subj"))
        ).alias("classes"),
        F.count_distinct(
            F.when(is_type & (F.col("obj") == "owl:DatatypeProperty"), F.col("subj"))
        ).alias("datatype_properties"),
        F.count_distinct(
            F.when(is_type & (F.col("obj") == "owl:ObjectProperty"), F.col("subj"))
        ).alias("object_properties"),
        F.count(
            F.when(is_type & F.col("obj").isin(action_objs), F.lit(1))
        ).alias("action_rules"),
    )

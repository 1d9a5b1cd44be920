"""The benchmark's workloads: seeded inputs, one iteration, output checks.

Each workload calls only the package's public functions.  Inputs are
written from the seed (and a committed document table) alone; the
checks compare every iteration's output with an independent answer
(the DuckDB re-implementation in ``kg_oracles.py`` for the KG
workloads, exact n-gram Jaccard in Python for the near-duplicate
workload).
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random
import shutil

from pyspark.sql import functions as F

from perfbench.tracing import Snapshot, rows, sweep

# layer metrics a workload does not exercise are reported as 0
PER_LAYER = {
    "extract.parse_models.wall_s": "s",
    "extract.parse_models.rows": "count",
    "extract.parse_errors.rows": "count",
    "extract.extract_generate.wall_s": "s",
    "dax.parse_measures.wall_s": "s",
    "dax.parse_measures.rows": "count",
    "pipeline.barrier.wall_s": "s",
    "pipeline.barrier.jobs": "count",
    "pipeline.barrier.cpu_s": "s",
    "triples.dag_build.wall_s": "s",
    "triples.dag_build.py4j_calls": "count",
    "triples.emit.wall_s": "s",
    "triples.emit.scans": "count",
    "triples.emit.cpu_s": "s",
    "pipeline.dedup.wall_s": "s",
    "pipeline.dedup.rows_in": "count",
    "pipeline.dedup.rows_out": "count",
    "pipeline.dedup.yield": "ratio",
    "pipeline.dedup.shuffle_mb": "MB",
    "pipeline.dedup.spill_mb": "MB",
    "pipeline.write.wall_s": "s",
    "pipeline.write.bytes_mb": "MB",
    "pipeline.write.files": "count",
    "canonicalize.signatures.wall_s": "s",
    "canonicalize.signatures.udf_s": "s",
    "canonicalize.lsh_candidates.wall_s": "s",
    "canonicalize.lsh_candidates.pairs": "count",
    "canonicalize.entity_mapping.wall_s": "s",
    "canonicalize.entity_mapping.accept_ratio": "ratio",
    "canonicalize.rewrite.wall_s": "s",
    "canonicalize.connected_components.jobs": "count",
    "dedup.driver.wall_s": "s",
    "dedup.verify.wall_s": "s",
    "dedup.verify.pairs_out": "count",
    "dedup.verify.yield": "ratio",
    "diff.all_pairs.wall_s": "s",
    "diff.all_pairs.changes": "count",
    "diff.all_pairs.shuffle_mb": "MB",
    "analytics.reports.wall_s": "s",
    "analytics.reports.jobs": "count",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.py4j_calls": "count",
    "session.gc_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}


def _duckdb(tmp: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=2")
    return con


def input_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
    return h.hexdigest()


def _udf_seconds(node: dict) -> float:
    """'time to run Python workers' of an ArrowEvalPython node, which
    the UI renders either as '2.0 s' or as 'total (...)\\n3.4 s (...)'."""
    for m in node.get("metrics", []):
        if m["name"] == "time to run Python workers":
            v = m["value"].split("\n")[-1].split(" (")[0].strip()
            num, unit = v.split(" ")
            scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}[unit]
            return float(num.replace(",", "")) * scale
    return 0.0


def _kg_front(snap: Snapshot, group: str, w0: float, w1: float,
              n_models: int) -> tuple[dict, float]:
    """Split a build_triples call window at its job boundaries.  The
    models checkpoint is the call thread's first job; the barrier round
    runs on pool threads, so its jobs carry no job group; what follows
    the last barrier job is driver DAG build.  Returns (metrics, end of
    the barrier round)."""
    jobs = snap.jobs_in(w0, w1)
    own = [j for j in jobs if j.get("jobGroup") == group]
    barrier = [j for j in jobs if j.get("jobGroup") != group]
    m_end = own[0]["t1"]
    b_end = max([j["t1"] for j in barrier] + [m_end])
    parsed = min(snap.node_rows(snap.sql_of_job(own[0]["jobId"]), "Filter") or [0])
    dax_wall, dax_rows = 0.0, 0
    for j in barrier:
        q = snap.sql_of_job(j["jobId"])
        if q and snap.node_rows(q, "ArrowEvalPython"):
            dax_wall += j["t1"] - j["t0"]
            dax_rows += sum(snap.node_rows(q, "ArrowEvalPython"))
    m = {
        "extract.parse_models.wall_s": m_end - w0,
        "extract.parse_models.rows": parsed,
        "extract.parse_errors.rows": n_models - parsed,
        "dax.parse_measures.wall_s": dax_wall,
        "dax.parse_measures.rows": dax_rows,
        "pipeline.barrier.wall_s": b_end - m_end,
        "pipeline.barrier.jobs": len(barrier),
        "pipeline.barrier.cpu_s": Snapshot.totals(snap.stages_of(barrier))["cpu_s"],
    }
    return m, b_end


def session_metrics(snap: Snapshot, py4j, t0: float, t1: float) -> dict:
    jobs = snap.jobs_in(t0, t1)
    tot = Snapshot.totals(snap.stages_of(jobs))
    return {
        "session.jobs": len(jobs),
        "session.stages": tot["stages"],
        "session.tasks": tot["tasks"],
        "session.py4j_calls": py4j.count(t0, t1),
        "session.gc_s": tot["gc_s"],
    }


class _Untraced:
    """Stand-in for the tracer in untraced iterations."""

    def span(self, name):
        return contextlib.nullcontext({})


NULL_TRACER = _Untraced()


class KgFull:
    """The nightly corpus build and the governance report on its corpus:
    corpus -> triples -> triples/nodes/edges parquet, then canonical
    entities, the all-pairs ontology diff and the debt, conflict and
    duplication reports."""

    name = "kg_full"
    n_repos = 16
    # the first, cold iteration is timed, as a nightly job runs once per
    # process.  A warm-up would cost as much again (JIT and Python worker
    # start-up do not shrink with the input) and double every run.
    warmups = 0
    min_samples = 1
    sampled_pairs = 3
    # layer metrics that tile an iteration without overlap (the DAX UDF
    # runs inside the barrier, LSH blocking inside the mapping)
    cover = (
        "extract.parse_models.wall_s", "pipeline.barrier.wall_s",
        "triples.dag_build.wall_s", "triples.emit.wall_s",
        "pipeline.dedup.wall_s", "pipeline.write.wall_s",
        "extract.extract_generate.wall_s",
        "canonicalize.entity_mapping.wall_s", "canonicalize.rewrite.wall_s",
        "diff.all_pairs.wall_s", "analytics.reports.wall_s",
    )

    def __init__(self, seed: int, tmp: str):
        self.seed, self.tmp = seed, tmp
        self.out = os.path.join(tmp, "out")
        self.notes: dict = {}

    def write_inputs(self, d: str) -> str:
        from powerbi_ontology_extractor_spark.sources.corpus import (
            write_corpus_parquet,
        )

        self.corpus = write_corpus_parquet(
            os.path.join(d, "corpus.parquet"), n_repos=self.n_repos,
            seed=self.seed,
        )
        return d

    def load(self, spark) -> int:
        self.spark = spark
        self.rows = spark.read.parquet(self.corpus).count()
        return self.rows

    def oracle(self) -> None:
        import kg_oracles

        con = _duckdb(self.tmp)
        q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
        p = self.corpus
        self.want_preds = dict(q(kg_oracles.triples_by_pred_sql(p)))
        self.want_graph = sorted(q(kg_oracles.graph_tables_sql(p)))
        self.want_clusters = sorted(q(kg_oracles.canonical_clusters_sql(p)))
        self.want_conflicts = sorted(q(kg_oracles.measure_conflicts_sql(p)))
        self.want_dups = sorted(q(kg_oracles.duplicate_logic_sql(p)))
        self.want_debt = q(kg_oracles.semantic_debt_sql(p))[0]
        self.want_debt_fams = sorted(
            (r[0], r[1], r[2], r[3])
            for r in q(kg_oracles.debt_conflicts_sql(p)))
        repos = sorted(r[0] for r in q(f"SELECT DISTINCT repo FROM '{p}'"))
        pairs = [(a, b) for i, a in enumerate(repos) for b in repos[i + 1:]]
        rng = random.Random(f"pairs:{self.seed}")
        # diff_all_pairs_summary_sql over every pair exceeds DuckDB's
        # expression depth, so a seeded sample of pairs is checked
        self.want_diff = {
            (s, t): sorted(q(kg_oracles.diff_summary_sql(p, s, t)))
            for s, t in rng.sample(pairs, self.sampled_pairs)
        }
        con.close()

    def iterate(self, tr=NULL_TRACER) -> None:
        from powerbi_ontology_extractor_spark.operators.analytics import (
            analyze_debt,
            duplicate_logic,
            measure_conflicts,
        )
        from powerbi_ontology_extractor_spark.operators.canonicalize import (
            entity_canonical_mapping,
            rewrite_triples_canonical,
        )
        from powerbi_ontology_extractor_spark.operators.diff import (
            diff_all_pairs,
        )
        from powerbi_ontology_extractor_spark.operators.extract import (
            extract_all,
        )
        from powerbi_ontology_extractor_spark.operators.ontology import (
            generate_ontology,
        )
        from powerbi_ontology_extractor_spark.pipeline import (
            build_triples,
            write_outputs,
        )

        r = {}
        with tr.span("sources.read_corpus"):
            corpus = self.spark.read.parquet(self.corpus)
        with tr.span("pipeline.build_triples"):
            triples = build_triples(corpus)
        with tr.span("pipeline.write_outputs"):
            write_outputs(triples, self.out)
        with tr.span("extract.extract_generate"):
            dfs = extract_all(corpus, materialize=True)
            onto = generate_ontology(dfs, materialize=True)
        with tr.span("canonicalize.entity_mapping"):
            mapping = entity_canonical_mapping(
                onto["ontology_entities"], dfs["properties"])
            r["clusters"] = (
                mapping.groupBy("canonical_iri").agg(F.count("*").alias("m"))
                .groupBy("m").agg(F.count("*").alias("n")).collect())
        with tr.span("canonicalize.rewrite"):
            # over the written triples, as the emission is not cached
            canon = rewrite_triples_canonical(
                self.spark.read.parquet(os.path.join(self.out, "triples")),
                mapping)
            r["canonical"] = canon.groupBy("pred").agg(
                F.count("*").alias("n"),
                F.sum((F.col("subj") != F.col("subj_orig")).cast("int"))
                .alias("rewritten")).collect()
        with tr.span("diff.all_pairs"):
            changes = diff_all_pairs({
                "entities": onto["ontology_entities"],
                "properties": dfs["properties"],
                "relationships": onto["ontology_relationships"],
                "business_rules": onto["business_rules"],
            })
            r["diff"] = changes.groupBy(
                "src_repo", "tgt_repo", "change_type", "element_type"
            ).agg(F.count("*").alias("n")).collect()
        with tr.span("analytics.reports"):
            r["debt"] = analyze_debt(
                dfs["properties"], onto["ontology_relationships"],
                onto["business_rules"],
            ).select("conflict_type", "severity", "name",
                     F.array_join("sources", "|")).collect()
            r["conflicts"] = measure_conflicts(dfs["measures"]).select(
                "concept", "dashboard1", "dashboard2", "severity").collect()
            r["dups"] = duplicate_logic(dfs["measures"]).select(
                "measure_name", "n_dashboards").collect()
        self.result = r

    def check(self) -> list[str]:
        sp, r, bad = self.spark, self.result, []
        t = sp.read.parquet(os.path.join(self.out, "triples"))
        got = {x["pred"]: x["n"] for x in
               t.groupBy("pred").agg(F.count("*").alias("n")).collect()}
        if got != self.want_preds:
            diff = sorted(k for k in set(got) | set(self.want_preds)
                          if got.get(k) != self.want_preds.get(k))
            bad.append(f"triples per predicate differ from DuckDB: {diff[:5]}")
        self.notes["triples"] = sum(got.values())
        # the rewrite's left joins keep every triple
        if {x["pred"]: x["n"] for x in r["canonical"]} != self.want_preds:
            bad.append("canonical triples per predicate differ from DuckDB")
        if not any(x["rewritten"] for x in r["canonical"]):
            bad.append("the canonical rewrite changed no subject")
        nodes = sp.read.parquet(os.path.join(self.out, "nodes"))
        edges = sp.read.parquet(os.path.join(self.out, "edges"))
        graph = sorted(
            [("node", x["key"], x["n"]) for x in nodes.groupBy(
                F.coalesce("node_type", F.lit("")).alias("key"))
             .agg(F.count("*").alias("n")).collect()]
            + [("edge", x["key"], x["n"]) for x in edges.groupBy(
                F.col("rel").alias("key")).agg(F.count("*").alias("n")).collect()]
        )
        if graph != self.want_graph:
            bad.append("node/edge census differs from DuckDB")
        if sorted(tuple(x) for x in r["clusters"]) != self.want_clusters:
            bad.append("canonical clusters differ from DuckDB")
        conflicts = sorted(tuple(x) for x in r["conflicts"])
        dups = sorted(tuple(x) for x in r["dups"])
        if conflicts != self.want_conflicts:
            bad.append("measure conflicts differ from DuckDB")
        if dups != self.want_dups:
            bad.append("duplicate logic differs from DuckDB")
        sev: dict[str, int] = {}
        for c in conflicts:
            sev[c[3]] = sev.get(c[3], 0) + 1
        debt = (len(conflicts), len(dups),
                len(conflicts) * 50000.0 + len(dups) * 10000.0,
                ",".join(f"{k}:{v}" for k, v in sorted(sev.items())))
        if debt != tuple(self.want_debt):
            bad.append("semantic debt totals differ from DuckDB")
        fams = {f[0] for f in self.want_debt_fams}
        if sorted(tuple(x) for x in r["debt"] if x[0] in fams) != self.want_debt_fams:
            bad.append("debt conflict families differ from DuckDB")
        for (s, t), want in self.want_diff.items():
            if _cube([x for x in r["diff"]
                      if x["src_repo"] == s and x["tgt_repo"] == t]) != want:
                bad.append(f"diff {s} -> {t} differs from DuckDB")
        return bad

    def layers(self, snap: Snapshot, py4j, spans: dict) -> dict:
        b = spans["pipeline.build_triples"]
        m, b_end = _kg_front(snap, "pipeline.build_triples",
                             b["start"], b["end"], self.n_repos)
        m["triples.dag_build.wall_s"] = b["end"] - b_end
        m["triples.dag_build.py4j_calls"] = py4j.count(b_end, b["end"])
        m.update(self._write_layers(snap, spans["pipeline.write_outputs"]))
        e = spans["extract.extract_generate"]
        m["extract.extract_generate.wall_s"] = e["end"] - e["start"]
        m.update(_canonical_layers(snap, spans["canonicalize.entity_mapping"]))
        w = spans["canonicalize.rewrite"]
        m["canonicalize.rewrite.wall_s"] = w["end"] - w["start"]
        d = spans["diff.all_pairs"]
        m["diff.all_pairs.wall_s"] = d["end"] - d["start"]
        m["diff.all_pairs.changes"] = sum(x["n"] for x in self.result["diff"])
        m["diff.all_pairs.shuffle_mb"] = Snapshot.totals(
            snap.stages_of(snap.jobs_in(d["start"], d["end"])))["shuffle_mb"]
        a = spans["analytics.reports"]
        m["analytics.reports.wall_s"] = a["end"] - a["start"]
        m["analytics.reports.jobs"] = len(snap.jobs_in(a["start"], a["end"]))
        return m

    def _write_layers(self, snap: Snapshot, w: dict) -> dict:
        stages = snap.stages_of(snap.jobs_in(w["start"], w["end"]))
        # 1 emission (reads no shuffle), 2 set-dedup and node/edge
        # aggregates (shuffle in and out), 3 file writing (shuffle in,
        # none out); time with no stage running is the writes' driver work
        cls = {}
        for s in stages:
            if s["shuffleReadBytes"] == 0:
                cls[s["stageId"]] = 1
            elif s["shuffleWriteBytes"] > 0:
                cls[s["stageId"]] = 2
            else:
                cls[s["stageId"]] = 3
        split = sweep(w["start"], w["end"],
                      [(s["t0"], s["t1"], cls[s["stageId"]]) for s in stages], 4)
        emit = [s for s in stages if cls[s["stageId"]] == 1]
        dedup = [s for s in stages if cls[s["stageId"]] == 2]
        writes = [q for q in snap.sql_in(w["start"], w["end"])
                  if any(n["nodeName"] == "WriteFiles" for n in q["nodes"])]
        rows_in, rows_out = Snapshot.dedup_rows(writes[0]) if writes else (0, 0)
        files = sum(
            1 for sub in ("triples", "nodes", "edges")
            for f in os.listdir(os.path.join(self.out, sub))
            if f.endswith(".parquet")
        )
        return {
            "triples.emit.wall_s": split[1],
            "triples.emit.scans": sum(
                1 for n in writes[0]["nodes"]
                if n["nodeName"] == "Scan ExistingRDD") if writes else 0,
            "triples.emit.cpu_s": Snapshot.totals(emit)["cpu_s"],
            "pipeline.dedup.wall_s": split[2],
            "pipeline.dedup.rows_in": rows_in,
            "pipeline.dedup.rows_out": rows_out,
            "pipeline.dedup.yield": rows_out / rows_in if rows_in else 0.0,
            "pipeline.dedup.shuffle_mb": sum(
                s["shuffleReadBytes"] for s in dedup) / 2**20,
            "pipeline.dedup.spill_mb": Snapshot.totals(dedup)["spill_mb"],
            "pipeline.write.wall_s": split[3] + split[0],
            "pipeline.write.bytes_mb": Snapshot.totals(stages)["out_mb"],
            "pipeline.write.files": files,
        }


def _canonical_layers(snap: Snapshot, c: dict) -> dict:
    """entity_canonical_mapping runs eagerly: its first execution
    checkpoints the accepted edges (signatures -> LSH buckets -> scored
    pairs), then connected components runs per-round jobs; the span's
    last execution is the cluster census."""
    jobs = snap.jobs_in(c["start"], c["end"])
    execs = snap.sql_in(c["start"], c["end"])
    if not jobs or len(execs) < 2:
        return {}
    lsh_q = snap.sql_of_job(jobs[0]["jobId"])
    if lsh_q is None:
        return {}
    lsh_end = max(j["t1"] for j in jobs if j["jobId"] in lsh_q["successJobIds"])
    census_t0 = execs[-1]["t0"]
    udfs = sorted((n for n in lsh_q["nodes"] if n["nodeName"] == "ArrowEvalPython"),
                  key=lambda n: n["nodeId"])
    m = {
        "canonicalize.entity_mapping.wall_s": c["end"] - c["start"],
        "canonicalize.lsh_candidates.wall_s": lsh_end - c["start"],
        "canonicalize.connected_components.jobs": sum(
            1 for j in jobs if lsh_end <= j["t0"] < census_t0),
    }
    if udfs:
        # the deepest Python UDF is the MinHash signature, the shallowest
        # the name heuristic on candidate pairs; the Filter right above
        # it keeps the accepted pairs
        cands = rows(udfs[0])
        above = [n for n in lsh_q["nodes"] if n["nodeName"] == "Filter"
                 and n["nodeId"] < udfs[0]["nodeId"]]
        acc = rows(max(above, key=lambda n: n["nodeId"])) if above else 0
        m["canonicalize.signatures.udf_s"] = _udf_seconds(udfs[-1])
        m["canonicalize.lsh_candidates.pairs"] = cands
        m["canonicalize.entity_mapping.accept_ratio"] = acc / cands if cands else 0.0
    return m


def _cube(census: list) -> list:
    """The diff census of one pair with CUBE subtotals, as
    diff_summary_sql renders it."""
    acc: dict[tuple, int] = {}
    for x in census:
        for key in ((x["change_type"], x["element_type"]),
                    (x["change_type"], "(all)"),
                    ("(all)", x["element_type"]), ("(all)", "(all)")):
            acc[key] = acc.get(key, 0) + x["n"]
    if not census:
        acc[("(all)", "(all)")] = 0
    return sorted((k[0], k[1], v) for k, v in acc.items())


def ngrams(text: str, n: int = 3) -> set[str]:
    """dedup.word_ngrams in Python: lower, trim, split on whitespace,
    sliding n-grams, at least one gram."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    ga, gb = ngrams(a), ngrams(b)
    union = len(ga | gb)
    return 1.0 if union == 0 else len(ga & gb) / union


def exact_pairs(texts: dict[int, str], theta: float) -> dict:
    """Every document pair with n-gram Jaccard >= theta, exactly: an
    all-pairs self-join with the two standard exact filters.  Prefix:
    under one global gram order, two sets with Jaccard >= theta share a
    gram among the first |g| - ceil(theta * |g|) + 1 of each.  Length:
    visiting sets by size, an earlier set y can only match x when
    |y| >= theta * |x|."""
    grams = {i: ngrams(t) for i, t in texts.items()}
    freq: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            freq[g] = freq.get(g, 0) + 1
    index: dict[str, list[int]] = {}
    cands = set()
    for i in sorted(grams, key=lambda i: (len(grams[i]), i)):
        n = len(grams[i])
        order = sorted(grams[i], key=lambda g: (freq[g], g))
        for g in order[:n - math.ceil(theta * n) + 1]:
            for j in index.setdefault(g, []):
                if len(grams[j]) >= theta * n:
                    cands.add((min(i, j), max(i, j)))
            index[g].append(i)
    out = {}
    for a, b in cands:
        union = len(grams[a] | grams[b])
        j = len(grams[a] & grams[b]) / union if union else 1.0
        if j >= theta:
            out[(a, b)] = j
    return out


class DocNeardup:
    """Corpus hygiene: MinHash-LSH near-duplicate documents."""

    name = "doc_neardup"
    # a copy of the repository's committed 5,000-document test table
    source = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "documents.parquet")
    n_docs = None  # all rows; the self-test takes a prefix
    # the iteration after the warm-up still runs ~8% slower than later
    # ones, so at least two are timed and the median spans both states
    warmups = 1
    min_samples = 2
    threshold = 0.7
    # every pair at or above this Jaccard must be found: 32 bands of 4
    # rows miss such a pair with probability (1 - 0.8**4)**32 < 1e-7,
    # while between 0.7 and 0.8 a miss is rare but legitimate
    must_find = 0.8
    cover = ("dedup.driver.wall_s", "canonicalize.signatures.wall_s",
             "canonicalize.lsh_candidates.wall_s", "dedup.verify.wall_s")

    def __init__(self, seed: int, tmp: str):
        self.seed, self.tmp = seed, tmp
        self.hashes: set[str] = set()
        self.notes: dict = {}

    def write_inputs(self, d: str) -> str:
        """The committed table with its rows permuted and its file
        layout (files, row-group size) drawn from the seed; the
        documents themselves never change."""
        import pyarrow.parquet as pq

        table = pq.read_table(self.source)
        if self.n_docs is not None:
            table = table.slice(0, self.n_docs)
        rng = random.Random(f"docs:{self.seed}")
        order = list(range(table.num_rows))
        rng.shuffle(order)
        table = table.take(order)
        self.texts = dict(zip(table.column("doc_id").to_pylist(),
                              table.column("text").to_pylist()))
        self.docs = os.path.join(d, "documents.parquet")
        os.makedirs(self.docs, exist_ok=True)
        n_files = rng.randint(1, 4)
        step = -(-table.num_rows // n_files)
        for k in range(n_files):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(self.docs, f"part-{k}.parquet"),
                           row_group_size=rng.choice((250, 500, 1000, 5000)))
        return d

    def load(self, spark) -> int:
        self.spark = spark
        self.rows = spark.read.parquet(self.docs).count()
        return self.rows

    def oracle(self) -> None:
        self.want = {p for p, j in exact_pairs(self.texts, self.threshold).items()
                     if j >= self.must_find}

    def iterate(self, tr=NULL_TRACER) -> None:
        from powerbi_ontology_extractor_spark.operators.dedup import (
            minhash_near_duplicates,
        )

        with tr.span("sources.read_documents"):
            docs = self.spark.read.parquet(self.docs)
        with tr.span("dedup.minhash_near_duplicates"):
            self.pairs = minhash_near_duplicates(
                docs, jaccard_threshold=self.threshold).collect()

    def check(self) -> list[str]:
        bad = []
        got = {tuple(sorted((int(p["id1"]), int(p["id2"])))) for p in self.pairs}
        for p in self.pairs:
            j = jaccard(self.texts[int(p["id1"])], self.texts[int(p["id2"])])
            if abs(j - p["jaccard"]) > 1e-9 or j < self.threshold:
                bad.append(f"pair {p['id1']},{p['id2']}: exact Jaccard "
                           f"{j:.4f}, reported {p['jaccard']:.4f}")
        if len(got) != len(self.pairs):
            bad.append("duplicate pairs in the result")
        missing = self.want - got
        if missing:
            bad.append(f"{len(missing)} pairs with Jaccard >= "
                       f"{self.must_find} not found")
        sha = hashlib.sha256(repr(sorted(got)).encode()).hexdigest()
        self.hashes.add(sha)
        self.notes.update(pairs=len(got), pairs_sha256=sha[:16])
        if len(self.hashes) > 1:
            bad.append("pair set differs between iterations")
        return bad

    def layers(self, snap: Snapshot, py4j, spans: dict) -> dict:
        w = spans["dedup.minhash_near_duplicates"]
        stages = snap.stages_of(snap.jobs_in(w["start"], w["end"]))
        # 1 reading the documents, 2 signatures (the stage taking one row
        # per document and writing the most rows: one per band bucket),
        # 3 the LSH bucket collect reading those rows, 4 the rest: gram
        # side, pair explode and verify, final pair dedup.  Time with no
        # stage running is driver work: plan build, optimisation, job
        # submission.  The document read feeds the signatures and is
        # counted with them.
        docs_in = [s for s in stages if self.rows in
                   (s["inputRecords"], s["shuffleReadRecords"])]
        sig = max(docs_in, key=lambda s: s["shuffleWriteRecords"], default=None)
        cls = {}
        for s in stages:
            if s is sig:
                cls[s["stageId"]] = 2
            elif sig and s["shuffleReadRecords"] == sig["shuffleWriteRecords"]:
                cls[s["stageId"]] = 3
            elif s["inputRecords"] > 0:
                cls[s["stageId"]] = 1
            else:
                cls[s["stageId"]] = 4
        split = sweep(w["start"], w["end"],
                      [(s["t0"], s["t1"], cls[s["stageId"]]) for s in stages], 5)
        q = snap.sql_in(w["start"], w["end"])[-1]
        gens = sorted((n for n in q["nodes"] if n["nodeName"] == "Generate"),
                      key=lambda n: n["nodeId"])
        udfs = [n for n in q["nodes"] if n["nodeName"] == "ArrowEvalPython"]
        cands = rows(gens[0]) if gens else 0
        return {
            "dedup.driver.wall_s": split[0],
            "canonicalize.signatures.wall_s": split[1] + split[2],
            "canonicalize.signatures.udf_s": sum(_udf_seconds(n) for n in udfs),
            "canonicalize.lsh_candidates.wall_s": split[3],
            "canonicalize.lsh_candidates.pairs": cands,
            "dedup.verify.wall_s": split[4],
            "dedup.verify.pairs_out": len(self.pairs),
            "dedup.verify.yield": len(self.pairs) / cands if cands else 0.0,
        }


WORKLOADS = {w.name: w for w in (KgFull, DocNeardup)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


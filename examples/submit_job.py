"""spark-submit entrypoint: corpus parquet → triples + node/edge tables.

The north-rule submit path:

    ./make_pyfiles.sh
    spark-submit --master <cluster> --py-files dist/pbi_kg.zip \
        examples/submit_job.py <corpus_parquet> <out_dir> [n_synth_repos]

The engine reaches the executors only through dist/pbi_kg.zip (no repo
on the executor PYTHONPATH), exactly as a real cluster submit would
ship it.  With no corpus argument a small synthetic corpus is built
in-session (smoke mode).
"""

import sys

from pyspark.sql import SparkSession


def main() -> None:
    spark = SparkSession.builder.appName("pbi-kg-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # imports resolve from --py-files on driver AND executors
    from powerbi_ontology_extractor_spark.pipeline import (
        build_triples,
        export_summary,
        write_outputs,
    )
    from powerbi_ontology_extractor_spark.sources.corpus import (
        corpus_df,
        read_corpus,
        verify_content_sha,
    )

    corpus_path = sys.argv[1] if len(sys.argv) > 1 else None
    out_dir = sys.argv[2] if len(sys.argv) > 2 else None
    if corpus_path:
        corpus = read_corpus(spark, corpus_path)
    else:
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 6
        corpus = corpus_df(spark, n_repos=n)
    bad = verify_content_sha(corpus).count()
    if bad:
        raise SystemExit(f"{bad} corpus rows fail the sha256 invariant")
    triples = build_triples(corpus)
    # count and summarise a materialized triple set, not the lazy DAG
    # (each action on it would re-run the emission and set-dedup)
    if out_dir:
        triples = write_outputs(triples, out_dir)
    else:
        triples = triples.localCheckpoint(eager=True)
    print("TRIPLES", triples.count())
    export_summary(triples).orderBy("repo", "dataset").show(10, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit primary resource for the engine's CLI
(knowledge_graph_builder_spark/__main__.py has the flags and output):

    python tools/make_pyfiles.py
    spark-submit --master <cluster-url> \
        --py-files dist/knowledge_graph_builder_spark.zip \
        tools/submit_job.py --input /data/transcripts --output /data/kg

It imports the engine ONLY from the shipped zip (no repo-relative
sys.path edits): a successful run proves the --py-files artifact is
self-contained, as it must be on a cluster whose executors have no checkout.
"""

from knowledge_graph_builder_spark.__main__ import main

if __name__ == "__main__":
    raise SystemExit(main())

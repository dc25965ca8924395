"""spark-submit entry point for the KG-construction pipeline.

Cluster deployment (north rule: spark-submit --py-files on a
multi-executor cluster):

    tools/make_pyfiles.sh                         # builds dist/kgx.zip
    spark-submit --master <cluster> \
        --py-files dist/kgx.zip \
        submit_main.py --n-docs 10000000 --warehouse hdfs://.../kgx \
        --resume

Local smoke:

    python submit_main.py --n-docs 1000 --warehouse /tmp/kgx_wh

A killed run re-submitted with ``--resume`` (the default) continues from
the last committed snapshot; ``--fresh`` forces recompute.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="KG-construction pipeline")
    p.add_argument("--n-docs", type=int, default=1000,
                   help="synthetic corpus size (ignored with --input)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--input", default=None,
                   help="parquet dir of documents(doc_id, spans[]) to ingest "
                        "instead of the synthetic generator")
    p.add_argument("--streaming-input", default=None,
                   help="watch this parquet dir with Structured Streaming: "
                        "cross-batch dedup runs as the ingest front-end "
                        "(checkpoint/state under the warehouse, so "
                        "re-submission processes only NEW files), then the "
                        "batch KG pipeline consumes the accumulated deduped "
                        "documents")
    p.add_argument("--streaming-dedup", choices=["minhash", "exact"],
                   default="minhash",
                   help="streaming front-end flavor: 'minhash' catches "
                        "near-duplicates via the per-batch "
                        "signature store; 'exact' catches byte-identical "
                        "content via the Spark state store (cheaper)")
    p.add_argument("--streaming-max-files", type=int, default=16,
                   help="maxFilesPerTrigger for the streaming front-end: "
                        "files per micro-batch (latency/throughput knob)")
    p.add_argument("--minhash-threshold", type=float, default=0.8,
                   help="estimated-Jaccard drop threshold for the minhash "
                        "streaming front-end")
    p.add_argument("--minhash-num-hashes", type=int, default=64,
                   help="blocking-signature width (bands hash these slots)")
    p.add_argument("--minhash-bands", type=int, default=16,
                   help="LSH bands over the blocking signature "
                        "(must divide --minhash-num-hashes)")
    p.add_argument("--minhash-verify-hashes", type=int, default=256,
                   help="verify-signature width for the drop estimate "
                        "(>= num-hashes; 0 = use the blocking signature "
                        "only — cheaper store, measured higher false-drop "
                        "rate, see BENCH/streaming_store.md)")
    p.add_argument("--compact-batches", type=int, default=64,
                   help="auto-compact the signature store at stream start "
                        "once this many batch directories accumulated "
                        "(0 disables)")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--mode", choices=["full_text", "abstract"],
                   default="full_text")
    p.add_argument("--fuzzy", action="store_true",
                   help="enable difflib fuzzy entity linking of "
                        "surfaces the exact gazetteer join leaves unlinked")
    p.add_argument("--dedup", choices=["none", "exact", "minhash"],
                   default="none",
                   help="corpus dedup stage before extraction")
    p.add_argument("--fresh", action="store_true",
                   help="ignore committed snapshots and recompute")
    p.add_argument("--stop-after", default=None,
                   choices=["ingest", "unique_docs", "mentions", "triples"],
                   help="stop after this stage (testing/kill simulation)")
    args = p.parse_args(argv)
    if args.input and args.streaming_input:
        p.error(
            "--input and --streaming-input are mutually exclusive: the "
            "streaming front-end is itself the ingest source (its deduped "
            "output feeds the batch pipeline); pass exactly one"
        )

    from llm_information_extraction_spark.plans.pipeline import (
        KGPipeline,
        PipelineConfig,
    )
    from llm_information_extraction_spark.session import get_spark

    spark = get_spark(app_name="kg-construct-submit")
    spark.sparkContext.setLogLevel("WARN")
    if args.streaming_input:
        from llm_information_extraction_spark.streaming.incremental import (
            incremental_fuzzy_unique_documents,
            incremental_unique_documents,
        )

        stream_dir = f"{args.warehouse.rstrip('/')}/stream"
        if args.streaming_dedup == "exact":
            q = incremental_unique_documents(
                spark,
                args.streaming_input,
                f"{stream_dir}/unique",
                f"{stream_dir}/ckpt",
                max_files_per_trigger=args.streaming_max_files,
                available_now=True,
            )
        else:
            q = incremental_fuzzy_unique_documents(
                spark,
                args.streaming_input,
                f"{stream_dir}/unique",
                f"{stream_dir}/ckpt",
                f"{stream_dir}/state",
                threshold=args.minhash_threshold,
                num_hashes=args.minhash_num_hashes,
                bands=args.minhash_bands,
                verify_hashes=args.minhash_verify_hashes or None,
                compact_batches=args.compact_batches or None,
                max_files_per_trigger=args.streaming_max_files,
                available_now=True,
            )
        q.awaitTermination()
        # zero batches so far (empty/not-yet-populated input dir) means
        # no unique/ output exists (minhash: no dir at all; exact: a dir
        # holding only the _spark_metadata log) — that's "nothing to
        # process", not a PATH_NOT_FOUND / schema-inference stack trace
        unique_dir = f"{stream_dir}/unique"
        from pyspark.errors import AnalysisException

        try:
            documents = (
                spark.read.parquet(unique_dir)
                .drop("batch_id", "fp")
                .select("doc_id", "spans")
            )
        except AnalysisException as e:
            msg = str(e)
            if not any(
                tag in msg
                for tag in (
                    "PATH_NOT_FOUND",
                    "Path does not exist",
                    "UNABLE_TO_INFER_SCHEMA",
                    "Unable to infer schema",
                )
            ):
                raise
            print(json.dumps({
                "warehouse": args.warehouse,
                "counts": {},
                "note": (
                    f"streaming input {args.streaming_input} yielded no "
                    "micro-batches yet; nothing to process — re-submit "
                    "once files have landed"
                ),
            }))
            return 0
    else:
        documents = spark.read.parquet(args.input) if args.input else None
    cfg = PipelineConfig(
        n_docs=args.n_docs, seed=args.seed, mode=args.mode, fuzzy=args.fuzzy,
        dedup=args.dedup,
    )
    pipeline = KGPipeline(spark, args.warehouse, cfg, documents=documents)
    counts = pipeline.run(resume=not args.fresh, stop_after=args.stop_after)
    print(json.dumps({"warehouse": args.warehouse, "counts": counts}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""End-to-end KG-construction pipeline with lineage + snapshot resume.

Stage graph (each stage = one committed snapshot in the catalog):

    ingest       documents(doc_id, spans[])            [input or synthetic]
    unique_docs  deduplicated documents                [optional: exact | minhash]
    mentions     (doc_id, pred, obj) surface forms     [payload + extraction]
    triples      (doc_id, pred, obj) canonical         [linking]
    entities     (entity_id, field, canonical, aliases)[canonicalization]

Every stage commit also appends one lineage row per written data file
(stage, snapshot_id, partition_id, rows_out, wall_ms, config) to the
``lineage`` table and one rollup row to the ``metrics`` table — the
north rule's "per-partition lineage and metrics". A "partition" here is
a file the stage's write produced; ``partition_id`` is its write task's
number. Both tables are append-only, and their rows are built on the
driver from the commit record (per-file rows from the parquet footers),
so a commit starts no Spark job beyond the stage's own write. The stage's
jobs run in job group ``kg:<stage>``, its bookkeeping in
``kg:<stage>:commit``. Resume:
``run(resume=True)`` skips any stage whose snapshot is already committed
*for the same config fingerprint*; a killed run therefore restarts from
the last committed snapshot and produces byte-identical output (the
parquet-manifest commit is atomic, see sources/catalog.py).

This mirrors the reference's single-script lifecycle (main.py:275-282)
split at its natural process boundaries (SURVEY §3.1), with the LLM call
replaced by the deterministic gazetteer stage.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from dataclasses import asdict, dataclass
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.canonicalize import entities_df
from ..operators.extraction import extract_triples
from ..operators.linking import link_mentions, vocabulary_df
from ..operators.payload import build_payload
from ..session import job_group
from ..sources.catalog import Catalog, Commit
from ..sources.synthetic import generate_documents


@dataclass(frozen=True)
class PipelineConfig:
    n_docs: int = 1000
    seed: int = 42
    mode: str = "full_text"  # or "abstract"
    fuzzy: bool = False
    hot_entity_skew: float = 1.1
    oversized_doc_pct: float = 0.01
    #: when set, documents are split into ≤N-span chunks before extraction
    #: (bounds Arrow batch memory for oversized docs; operators/skew.py)
    chunk_max_spans: int | None = None
    #: corpus dedup before extraction: 'none' | 'exact' (payload
    #: fingerprint, keep min doc_id) | 'minhash' (exact first, then
    #: near-dup clusters joined by MinHash star edges verified at exact
    #: Jaccard ≥ minhash_threshold; keep each cluster's min id)
    dedup: str = "none"
    minhash_threshold: float = 0.8

    def fingerprint(self) -> str:
        return hashlib.sha256(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()[:16]


STAGES = ["ingest", "unique_docs", "mentions", "triples", "entities"]


def _schema(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(name, t) for name, t in fields])


LINEAGE_SCHEMA = _schema(
    ("stage", StringType()), ("snapshot_id", IntegerType()),
    ("partition_id", IntegerType()), ("rows_out", LongType()),
    ("wall_ms", DoubleType()), ("config", StringType()),
)
METRICS_SCHEMA = _schema(
    ("stage", StringType()), ("snapshot_id", IntegerType()),
    ("config", StringType()), ("rows_out", LongType()),
    ("n_partitions", LongType()), ("max_partition_rows", LongType()),
    ("partition_skew", DoubleType()), ("wall_ms", DoubleType()),
)

#: the write task's number in a data file name: Spark's
#: ``part-00003-<uuid>-c000.snappy.parquet``, Iceberg's ``00003-7-<uuid>-00001.parquet``
_TASK_NUMBER = re.compile(r"(?:part-)?(\d+)-")


def _round_half_up(x: float, digits: int) -> float:
    """``F.round`` on a double: HALF_UP on its shortest decimal form."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
    )


class KGPipeline:
    """Orchestrates the stage graph over a :class:`Catalog` warehouse."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        config: PipelineConfig | None = None,
        documents: DataFrame | None = None,
        media: DataFrame | None = None,
    ):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        self.config = config or PipelineConfig()
        self._documents = documents
        #: optional side table of media payloads (operators/multimodal
        #: MEDIA_SCHEMA); table media contributes mentions too
        self._media = media

    # -- lineage ------------------------------------------------------------
    def _record_lineage(self, stage: str, commit: Commit, wall_ms: float) -> None:
        """Append the stage's lineage rows and its one metrics row, both
        built on the driver from ``commit`` (no Spark job). The metrics
        row is the rollup of the lineage rows: rows, files, the largest
        file and the skew ratio max / max(mean, 1), rounded HALF_UP like
        ``F.round``."""
        config = self.config.fingerprint()
        files = [
            (int(_TASK_NUMBER.match(name).group(1)), rows)
            for name, rows in commit.file_rows.items()
        ]
        self.catalog.append(
            "lineage",
            [
                {"stage": stage, "snapshot_id": commit.snapshot_id,
                 "partition_id": part, "rows_out": rows, "wall_ms": wall_ms,
                 "config": config}
                for part, rows in files
            ],
            LINEAGE_SCHEMA,
        )
        rows = [r for _, r in files]
        peak = max(rows, default=0)
        mean = sum(rows) / len(rows) if rows else 0.0
        self.catalog.append(
            "metrics",
            [{"stage": stage, "snapshot_id": commit.snapshot_id, "config": config,
              "rows_out": sum(rows), "n_partitions": len(rows),
              "max_partition_rows": peak,
              "partition_skew": _round_half_up(peak / max(mean, 1.0), 3),
              "wall_ms": wall_ms}],
            METRICS_SCHEMA,
        )

    def _stage_done(self, stage: str) -> bool:
        if not self.catalog.exists(stage):
            return False
        return (
            self.catalog.snapshot_meta(stage).get("config")
            == self.config.fingerprint()
        )

    def _commit(self, stage: str, build, *args) -> tuple[int, DataFrame]:
        """Build and write ``stage``; returns (rows written, committed
        output). Only the write starts Spark jobs: the bookkeeping reads
        the commit record and the output's stored schema."""
        with job_group(self.spark, f"kg:{stage}"):
            t0 = time.time()
            commit = self.catalog.write(
                stage, build(*args), meta={"config": self.config.fingerprint()}
            )
            wall_ms = (time.time() - t0) * 1e3
        with job_group(self.spark, f"kg:{stage}:commit"):
            self._record_lineage(stage, commit, wall_ms)
            return commit.rows, self.catalog.read(stage)

    # -- stages ---------------------------------------------------------------
    def _build_ingest(self) -> DataFrame:
        if self._documents is not None:
            return self._documents
        return generate_documents(
            self.spark,
            self.config.n_docs,
            seed=self.config.seed,
            hot_entity_skew=self.config.hot_entity_skew,
            oversized_doc_pct=self.config.oversized_doc_pct,
        )

    def _build_dedup(self, docs: DataFrame) -> DataFrame:
        """Corpus dedup between ingest and extraction — the stage a
        training-data pipeline always runs; extraction cost then scales
        with UNIQUE content. Committed like any stage (resumable).

        'minhash' composes exact-first-then-fuzzy (the production
        order): exact fingerprint dedup is cheap and catches every
        byte-identical payload, while :func:`minhash_dedup_groups` can
        miss a near pair whose shared MinHash buckets all have a
        dissimilar min document (its documented caveat).
        """
        from ..operators.dedup import exact_dedup, minhash_dedup_groups

        if self.config.dedup not in ("exact", "minhash"):
            raise ValueError(f"unknown dedup mode {self.config.dedup!r}")

        payload = exact_dedup(
            build_payload(docs, mode="full_text"), text_col="payload"
        )
        unique = payload.select(*docs.columns)

        if self.config.dedup == "minhash":
            groups = minhash_dedup_groups(
                payload,
                text_col="payload",
                threshold=self.config.minhash_threshold,
            )
            drop = groups.filter(
                F.col("doc_id") != F.col("group_id")
            ).select("doc_id")
            unique = unique.join(drop, "doc_id", "left_anti")
        return unique

    def _build_mentions(self, docs: DataFrame) -> DataFrame:
        if self.config.chunk_max_spans:
            from ..operators.skew import extract_chunked

            mentions = extract_chunked(
                docs, self.config.chunk_max_spans, mode=self.config.mode
            )
        else:
            mentions = extract_triples(
                build_payload(docs, mode=self.config.mode)
            )
        if self._media is not None:
            from ..operators.extraction import merge_binary_yes_wins
            from ..operators.multimodal import extract_from_table_media

            mentions = merge_binary_yes_wins(
                mentions.unionByName(
                    extract_from_table_media(self._media)
                ).dropDuplicates(["doc_id", "pred", "obj"])
            )
        return mentions

    def _build_triples(self, mentions: DataFrame) -> DataFrame:
        return link_mentions(
            mentions, vocabulary_df(self.spark), fuzzy=self.config.fuzzy
        )

    def _build_entities(self, triples: DataFrame) -> DataFrame:
        """Entities come from the gazetteer alone. Every gazetteer
        canonical is a surface of its field (``vocab.gazetteer_rows``
        checks it), so a triple object that is not a known surface is one
        the triples stage's exhaustive fuzzy scan already failed to link:
        re-linking the triples would find nothing. The table is a pure
        function of package data, built on the driver: its write is the
        stage's one Spark job."""
        return entities_df(self.spark)

    # -- driver ---------------------------------------------------------------
    def run(self, resume: bool = True, stop_after: str | None = None) -> dict:
        """Execute the stage graph; returns {stage: row_count}.

        ``resume=True`` reuses any committed snapshot with a matching
        config fingerprint. ``stop_after`` simulates a mid-run kill for
        the resume test.
        """
        counts: dict[str, int] = {}
        stages = [("ingest", self._build_ingest)]
        if self.config.dedup != "none":
            stages.append(("unique_docs", self._build_dedup))
        stages += [
            ("mentions", self._build_mentions),
            ("triples", self._build_triples),
            ("entities", self._build_entities),
        ]
        out = None
        for stage, build in stages:
            args = () if out is None else (out,)
            if resume and self._stage_done(stage):
                out = self.catalog.read(stage)
                rows = self.catalog.last_commit(stage).rows
                # snapshots committed before per-file rows were recorded
                counts[stage] = out.count() if rows is None else rows
            else:
                counts[stage], out = self._commit(stage, build, *args)
            if stop_after == stage:
                break
        return counts

    def read(self, stage: str) -> DataFrame:
        return self.catalog.read(stage)

"""Scale semantics: checkpoint-resume, lineage, and the batch job entry.

North-rule requirements (BASELINE.json): explicit skew handling (see
pipeline.rebalance_pages), per-partition lineage + metrics tables, and
checkpoint-based resume so any partition can be replayed idempotently.

Resume model (SURVEY.md §4 O11): the results table is keyed by url; a run
anti-joins the input against already-written urls and processes only the
remainder. Replaying a partition is therefore idempotent — its urls are
already present and anti-joined away. With an Iceberg catalog the appends are
ACID; on plain parquet (this sandbox) the same model applies with
last-writer-wins semantics per run_id.

Layout: a fresh parquet results table is flat, one file per write task;
appends keep whatever layout is already on disk (see _append_results).
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from tesseract_wasm_spark.pipeline import extract_any, metrics_df, ocr_pages


#: url-hash bucket fan-out for the results table. Every result row carries
#: url_bucket = pmod(xxhash64(url), URL_BUCKETS) as a data column and each
#: file is sorted by (url_bucket, url), so at 10^12 rows (a) the resume
#: anti-join keys on (url_bucket, url) — with an Iceberg bucket-partitioned
#: table the join becomes a storage-partitioned join and the completed side
#: is never shuffled; (b) any single bucket is a contiguous range per file.
URL_BUCKETS = 256


def url_bucket_col():
    return F.pmod(F.xxhash64("url"), F.lit(URL_BUCKETS)).cast("int")


def iceberg_results_ddl(table: str, df: DataFrame, *,
                        bucket_on: str = "url") -> str:
    """The CREATE TABLE statement an Iceberg deployment runs ONCE before the
    first append — the partition-spec twin of the parquet layout: parquet
    materializes the ``url_bucket`` column (pmod(xxhash64)),
    Iceberg declares ``bucket(URL_BUCKETS, url)`` natively so the catalog
    owns the transform (Iceberg buckets with murmur3 rather than xxhash64 —
    the VALUES differ but the contract is the same: a fixed URL_BUCKETS-way
    url-hash fan-out, storage-partitioned resume joins, per-bucket replay/
    compaction). The ``url_bucket`` column itself is parquet-layout-only and
    excluded from the Iceberg schema."""
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name != "url_bucket"
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({URL_BUCKETS}, {bucket_on}))"
    )


def ensure_iceberg_table(spark: SparkSession, table: str, df: DataFrame, *,
                         bucket_on: str = "url") -> str:
    """Create the bucket-partitioned Iceberg results table if absent and
    return the DDL used (contract-tested; executes only under a real Iceberg
    catalog)."""
    ddl = iceberg_results_ddl(table, df, bucket_on=bucket_on)
    spark.sql(ddl)
    return ddl


def write_table(df: DataFrame, path: str, *, fmt: str | None = None,
                partition_by: tuple[str, ...] = ()) -> None:
    """Iceberg-compatible writer abstraction (SURVEY.md §7): appends go to an
    Iceberg table when a catalog is configured (ACID appends — the real
    100 TB deployment), else to plain parquet with the same layout. ``fmt``
    overrides autodetection ("iceberg" | "parquet"). ``partition_by`` maps to
    hive-style directory partitioning on parquet; an Iceberg deployment
    declares the same columns in its partition spec at table creation, so
    the append itself needs no per-write clause."""
    spark = df.sparkSession
    if fmt is None:
        has_iceberg = any(
            "iceberg" in spark.conf.get(k, "").lower()
            for k in ("spark.sql.catalog.spark_catalog", "spark.sql.extensions")
        )
        fmt = "iceberg" if has_iceberg else "parquet"
    if fmt == "iceberg":
        if "url_bucket" in getattr(df, "columns", ()):
            # the Iceberg spec (bucket(URL_BUCKETS, url), see
            # iceberg_results_ddl) owns the fan-out; the materialized column
            # exists only for the parquet layout, whichever one it is
            df = df.drop("url_bucket")
        df.writeTo(path).append()
    else:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)


def completed_urls(spark: SparkSession, results_path: str, mode: str = "full") -> DataFrame | None:
    """Urls already extracted *in the same mode* — a layout-only run must not
    mark urls complete for full extraction (and vice versa).

    Only a genuinely-absent results table means "first run": any OTHER read
    failure (permissions blip, corrupt footer, eventual consistency) is
    re-raised — silently treating it as first-run would disable resume and
    re-append duplicates for the whole input, which at 10^12 rows is a very
    expensive way to learn the directory was briefly unlistable."""
    try:
        df = spark.read.parquet(results_path)
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None  # first run: nothing written yet
        raise
    if "mode" in df.columns:
        df = df.filter(F.col("mode") == mode)
    cols = ["url_bucket", "url"] if "url_bucket" in df.columns else ["url"]
    return df.select(*cols)


def _has_bucket_dirs(spark: SparkSession, path: str) -> bool:
    """Whether the table root holds hive ``url_bucket=`` directories: one
    glob through the Hadoop FileSystem, so it works on any store."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.globStatus(Path(path, "url_bucket=*")))


def _append_results(spark: SparkSession, out: DataFrame, path: str,
                    done: DataFrame | None) -> None:
    """Append in the layout already on disk, since mixing layouts makes a
    table unreadable: no ``url_bucket`` for a pre-bucketing table, hive
    ``url_bucket=`` directories for a table that has them, else flat files
    sorted by (url_bucket, url)."""
    bucketed = out.withColumn("url_bucket", url_bucket_col())
    if done is not None and "url_bucket" not in done.columns:
        write_table(out, path)
    elif done is not None and _has_bucket_dirs(spark, path):
        write_table(bucketed, path, partition_by=("url_bucket",))
    else:
        write_table(bucketed.sortWithinPartitions("url_bucket", "url"), path)


def _resume(spark: SparkSession, pages: DataFrame, path: str, mode: str,
            extract, after_write) -> dict:
    """Anti-join ``pages`` against the urls done at ``path`` in ``mode``,
    ``extract`` and append the rest, then ``after_write(res, run_id)`` adds
    its outputs and summary keys. The cache is released however it ends."""
    run_id = uuid.uuid4().hex
    done = completed_urls(spark, path, mode)
    todo = pages if done is None else (
        pages.withColumn("url_bucket", url_bucket_col())
        .join(done, done.columns, "left_anti").drop("url_bucket"))
    res = extract(todo).persist()
    try:
        n = res.count()
        if n == 0:
            return {"run_id": run_id, "pages": 0, "resumed": done is not None}
        out = res.withColumn("run_id", F.lit(run_id)).withColumn("mode", F.lit(mode))
        _append_results(spark, out, path, done)
        extra = after_write(res, run_id)
        errors = res.filter(F.col("error").isNotNull()).count()
        return {"run_id": run_id, "pages": n, "errors": errors, **extra,
                "resumed": done is not None}
    finally:
        res.unpersist()


def run_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    with_text: bool = True,
    recognizer: str = "template",
    num_partitions: int | None = None,
    model_blob: bytes | None = None,
) -> dict:
    """Process all pages not yet present in ``{out_dir}/results``; append
    results + per-partition metrics. Returns a small run summary dict.
    ``model_blob``: optional TWSM2 trained-weight blob shipped to workers
    (see pipeline.ocr_pages)."""

    def write_metrics(res: DataFrame, run_id: str) -> dict:
        write_table(metrics_df(res).withColumn("run_id", F.lit(run_id)),
                    f"{out_dir}/metrics")
        return {}

    return _resume(
        spark, pages, f"{out_dir}/results", "full" if with_text else "layout",
        lambda todo: ocr_pages(todo, with_text=with_text, recognizer=recognizer,
                               model_blob=model_blob, num_partitions=num_partitions),
        write_metrics,
    )


def run_extract_with_resume(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    *,
    recognizer: str = "template",
    num_partitions: int | None = None,
    model_blob: bytes | None = None,
) -> dict:
    """The MIXED-payload main-content pipeline (pipeline.extract_any: DRF ->
    OCR, PDF -> pdftext, HTML -> webtext) under the same checkpoint-resume
    contract: results keyed by url at ``{out_dir}/extracted``, anti-join on
    completed urls, idempotent partition replay. Per-kind counts land in the
    summary. No per-partition lineage yet: only the HTML branch is pure
    expressions — DRF pages and PDF parsing both run in extract_any's
    ``mapInPandas`` pass, which emits no lineage columns (the OCR-only
    run_with_resume path has them)."""

    def count_kinds(res: DataFrame, _run_id: str) -> dict:
        by_kind = res.groupBy("kind").agg(F.count("*").alias("n")).collect()
        return {"kinds": {r["kind"]: r["n"] for r in by_kind}}

    return _resume(
        spark, pages, f"{out_dir}/extracted", "extract",
        lambda todo: extract_any(todo, recognizer=recognizer,
                                 num_partitions=num_partitions, model_blob=model_blob),
        count_kinds,
    )

"""Registry: scans, sinks, and ingest streaming (SURVEY.md §2.1, §2.9).

Scan/sink queries materialize a deterministic fixture (derived from the
nation table or fixed literals) into a scratch dir, exercise the real
reader/writer/stream, and return a DataFrame the oracle can reproduce
from the pre-registered views or literal VALUES.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmc_conversion_spark import tables
from pmc_conversion_spark.queries import register
from pmc_conversion_spark.queries.manifest import _values
from pmc_conversion_spark.sources import scans as S
from pmc_conversion_spark.sources import sinks as K
from pmc_conversion_spark.streaming import ingest as I

NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"
NATION_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def _scratch(name: str) -> str:
    from pmc_conversion_spark.util import scratch_dir
    return scratch_dir(name)


@register("scan_parquet", oracle="SELECT * FROM part")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with pushdown/pruning (driver test tables)."""
    return tables.load(spark, sf_dir, "part")


@register("scan_csv_delim", oracle=NATION_ORACLE)
def scan_csv_delim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited read with ',' override + quoted fields
    (sources_config.json:465-480). Round-trips nation through CSV."""
    d = _scratch("scan_csv_delim")
    nation = tables.load(spark, sf_dir, "nation")
    K.write_tsv(nation, d, sep=",")
    return S.scan_csv_delim(spark, d, sep=",", schema=NATION_SCHEMA)


@register("scan_gzip_tsv", oracle=NATION_ORACLE)
def scan_gzip_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped TSV scan (MAF files, .MISSING_LARGE_BLOBS:1-4)."""
    d = _scratch("scan_gzip_tsv")
    nation = tables.load(spark, sf_dir, "nation")
    (nation.coalesce(1).write.mode("overwrite")
     .option("sep", "\t").option("header", True)
     .option("compression", "gzip").csv(d))
    return S.scan_gzip_tsv(spark, d, sep="\t", schema=NATION_SCHEMA)


# Fixed file tree for directory scans: (relpath, content). Hidden files
# and sidecars present so the filters have work to do.
TREE_FILES = [
    ("clinic/RDP-Patient.tsv", "Hello world!"),
    ("clinic/RDP-IC.tsv", "pmc-conversion"),
    ("studies/sub/individual.csv", "15AUG2000"),
    ("studies/.hidden_tmp", "x"),
]
TREE_SIDECARS = [
    ("clinic/RDP-Patient.tsv.sha1",
     hashlib.sha1(b"Hello world!").hexdigest() + "  RDP-Patient.tsv"),
    ("clinic/RDP-IC.tsv.sha1", hashlib.sha1(b"pmc-conversion").hexdigest()),
]
SHA1_EXPECT = [(p, hashlib.sha1(c.encode()).hexdigest())
               for p, c in TREE_FILES if not p.split("/")[-1].startswith(".")]
SIDECAR_EXPECT = [(p, line[:40]) for p, line in TREE_SIDECARS]


def _build_tree(name: str) -> str:
    d = _scratch(name)
    for rel, content in TREE_FILES + TREE_SIDECARS:
        p = os.path.join(d, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(content)
    return d


@register(
    "scan_dir_recursive",
    oracle=f"""
    SELECT path FROM {_values([(p,) for p, _ in TREE_FILES
                               if not p.split('/')[-1].startswith('.')],
                              'path')}
    """)
def scan_dir_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive walk skipping hidden files and sidecars
    (scripts/sync.py:77-89,37-38,15-16)."""
    d = _build_tree("scan_dir_recursive")
    return S.scan_dir_recursive(spark, d)


@register(
    "scan_binary_sha1",
    oracle=f"SELECT path, sha1 FROM {_values(SHA1_EXPECT, 'path, sha1')}")
def scan_binary_sha1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source + JVM-side sha1() — the distributed form of the
    64 KiB chunked digest (scripts/checksum.py:19-32). Expected digests
    precomputed from the fixed file contents."""
    d = _build_tree("scan_binary_sha1")
    return S.manifest_with_checksums(spark, d)


@register(
    "scan_sidecar_checksum",
    oracle=f"SELECT path, sha1 FROM {_values(SIDECAR_EXPECT, 'path, sha1')}")
def scan_sidecar_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sidecar read keeping the first 40 chars only
    (scripts/checksum.py:4-10)."""
    d = _build_tree("scan_sidecar_checksum")
    df = S.scan_sidecar_checksum(spark, d)
    prefix = "file:" + os.path.abspath(d)
    rel = F.expr(f"substring(path, {len(prefix) + 2})")
    return df.select(rel.alias("path"), "sha1")


@register("sink_csr_tsv", oracle=NATION_ORACLE)
def sink_csr_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-overwrite TSV entity sink (luigi-pipeline/main.py:109-112),
    verified by reading the written file back."""
    d = _scratch("sink_csr_tsv")
    nation = tables.load(spark, sf_dir, "nation")
    K.write_tsv(nation, d)
    return S.scan_csv_delim(spark, d, sep="\t", schema=NATION_SCHEMA)


@register(
    "sink_staging_tsv",
    oracle="""
    SELECT c_mktsegment AS concept_cd, count(*) AS n_obs
    FROM customer GROUP BY c_mktsegment
    """)
def sink_staging_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging-file sink for the observation long table
    (luigi-pipeline/main.py:118-126): write, read back, aggregate."""
    d = _scratch("sink_staging_tsv")
    obs = tables.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("patient_id"),
        F.col("c_mktsegment").alias("concept_cd"))
    K.write_tsv(obs, d)
    back = S.scan_csv_delim(spark, d, schema="patient_id long, concept_cd string")
    return back.groupBy("concept_cd").agg(F.count(F.lit(1)).alias("n_obs"))


@register("sink_jdbc_tx", oracle=NATION_ORACLE)
def sink_jdbc_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-or-nothing publish via staging + atomic swap — the same
    protocol :func:`jdbc_tx_load` runs against Postgres
    (README.md:181-183; no JDBC driver in this container, so the swap is
    demonstrated on the file sink; the JDBC path shares the code)."""
    d = _scratch("sink_jdbc_tx")
    live = os.path.join(d, "live")
    nation = tables.load(spark, sf_dir, "nation")
    # Publish once, then publish again (overwrite) — live must always be
    # a complete snapshot.
    K.tx_swap_write(nation, live)
    K.tx_swap_write(nation, live)
    return S.scan_csv_delim(spark, live, schema=NATION_SCHEMA)


@register(
    "sink_versioned_snapshot",
    oracle="""
    SELECT 1 AS version, count(*) AS n_rows FROM nation
    UNION ALL
    SELECT 2 AS version, count(*) - 1 AS n_rows FROM nation
    """)
def sink_versioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot store with commit-if-changed semantics
    (scripts/git_commons.py:8-45; main.py:71-82): v1 = nation, re-commit
    of identical content is skipped, v2 = nation minus one row."""
    d = _scratch("sink_versioned_snapshot")
    store = K.SnapshotStore(d)
    nation = tables.load(spark, sf_dir, "nation")
    store.commit(nation)
    store.commit(nation)  # clean -> no new version
    store.commit(nation.filter(F.col("n_nationkey") != 0))
    log = store.versions()
    from pmc_conversion_spark.queries.manifest import fixture_df
    return fixture_df(spark, [(v["version"], v["n_rows"]) for v in log],
                      "version int, n_rows long")


@register(
    "snapshot_rollback_resume",
    oracle="""
    SELECT 'commit_v1' AS step, 1 AS version,
           (SELECT count(*) FROM nation WHERE n_nationkey < 10) AS n_rows
    UNION ALL
    SELECT 'commit_v2', 2, (SELECT count(*) FROM nation)
    UNION ALL
    SELECT 'rollback', 1,
           (SELECT count(*) FROM nation WHERE n_nationkey < 10)
    UNION ALL
    SELECT 'recommit', 3, (SELECT count(*) FROM nation)
    """)
def snapshot_rollback_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GitVersionTask rollback/resume end-to-end (main.py:177-192;
    scripts/load_transmart_data.sh §3.2 semantics): commit v1, commit
    v2, roll HEAD back to v1 — reads now see v1's content and the head
    digest changes, so a re-commit of v2's content is DIRTY again and
    lands as a NEW version (v3, never reusing a version dir). The
    returned step log pins every transition; history survives rollback
    (audit trail)."""
    d = _scratch("snapshot_rollback_resume")
    store = K.SnapshotStore(d)
    nation = tables.load(spark, sf_dir, "nation")
    small = nation.filter(F.col("n_nationkey") < 10)
    e1 = store.commit(small)
    e2 = store.commit(nation)
    rb = store.rollback(e1["version"])
    head_rows = store.read(spark, schema=NATION_SCHEMA).count()
    if head_rows != rb["n_rows"]:  # read() must follow the moved HEAD
        raise AssertionError(
            f"rollback head read {head_rows} rows, expected {rb['n_rows']}")
    e3 = store.commit(nation)  # dirty vs rolled-back head -> v3
    rows = [("commit_v1", e1["version"], e1["n_rows"]),
            ("commit_v2", e2["version"], e2["n_rows"]),
            ("rollback", rb["version"], head_rows),
            ("recommit", e3["version"], e3["n_rows"])]
    from pmc_conversion_spark.queries.manifest import fixture_df
    return fixture_df(spark, rows, "step string, version int, n_rows long")


@register("source_streaming_dropzone", oracle=NATION_ORACLE)
def source_streaming_dropzone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-zone file stream, one availableNow tick (the streaming
    equivalent of the cron poll, scripts/sync.py:142-156)."""
    d = _scratch("source_streaming_dropzone")
    drop, ckpt, out = (os.path.join(d, x) for x in ("drop", "ckpt", "out"))
    nation = tables.load(spark, sf_dir, "nation")
    K.write_tsv(nation, drop)
    stream = I.dropzone_stream(spark, drop, NATION_SCHEMA)
    I.run_available_now(stream, ckpt, out)
    return spark.read.schema(NATION_SCHEMA).parquet(out)


@register(
    "stream_file_arrival",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey, 1 AS tick FROM nation
    WHERE n_nationkey < 10
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, 2 AS tick FROM nation
    WHERE n_nationkey >= 10
    """)
def stream_file_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two cron ticks: only files that arrived since the last checkpoint
    are processed on the second run (scripts/sync.py:142-156)."""
    d = _scratch("stream_file_arrival")
    drop, ckpt, out = (os.path.join(d, x) for x in ("drop", "ckpt", "out"))
    os.makedirs(drop, exist_ok=True)
    nation = tables.load(spark, sf_dir, "nation")
    schema_tick = NATION_SCHEMA + ", tick int"

    def tick(batch: DataFrame, n: int) -> None:
        K.write_tsv(batch, os.path.join(drop, f"batch{n}"))
        stream = I.dropzone_stream(
            spark, os.path.join(drop, "*"), NATION_SCHEMA)
        I.run_available_now(
            stream.withColumn("tick", F.lit(n)), ckpt, out)

    tick(nation.filter(F.col("n_nationkey") < 10), 1)
    tick(nation.filter(F.col("n_nationkey") >= 10), 2)
    return spark.read.schema(schema_tick).parquet(out)


@register("stream_exactly_once", oracle="SELECT count(*) AS n FROM nation")
def stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Done-signal protocol: re-running a completed tick processes
    nothing, so the sink holds each row exactly once
    (luigi_commons.py:17-28,69-80; checkpoint ≙ done-signal)."""
    d = _scratch("stream_exactly_once")
    drop, ckpt, out = (os.path.join(d, x) for x in ("drop", "ckpt", "out"))
    nation = tables.load(spark, sf_dir, "nation")
    K.write_tsv(nation, drop)
    for _ in range(2):  # second tick: no new files -> no-op
        stream = I.dropzone_stream(spark, drop, NATION_SCHEMA)
        I.run_available_now(stream, ckpt, out)
    back = spark.read.schema(NATION_SCHEMA).parquet(out)
    return back.agg(F.count(F.lit(1)).alias("n"))


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, NULL AS n_comment FROM nation
    WHERE n_regionkey = 0
    UNION ALL
    SELECT n_nationkey, n_name, 'c' || CAST(n_nationkey AS VARCHAR)
    FROM nation WHERE n_regionkey = 1
    """)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across ingest batches: batch 2 adds a column batch 1
    lacks. ``mergeSchema`` unions the parquet footers at planning time;
    old files surface the new column as null — no rewrite of existing
    data, the 100 TB-safe evolution path (vs. a full re-ingest).
    """
    d = _scratch("schema_evolution")
    n = tables.load(spark, sf_dir, "nation")
    (n.filter(F.col("n_regionkey") == 0)
     .select("n_nationkey", "n_name")
     .write.mode("overwrite").parquet(os.path.join(d, "b1")))
    (n.filter(F.col("n_regionkey") == 1)
     .select("n_nationkey", "n_name",
             F.concat(F.lit("c"), F.col("n_nationkey").cast("string"))
             .alias("n_comment"))
     .write.mode("overwrite").parquet(os.path.join(d, "b2")))
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(os.path.join(d, "b1"), os.path.join(d, "b2")))
    return merged.select("n_nationkey", "n_name", "n_comment")


#: raw lines for the corrupt-record scan — two malformed rows (bad int,
#: missing field is fine in CSV so use unparseable type instead)
_CORRUPT_CSV_LINES = [
    "id,qty",
    "1,10",
    "2,notanumber",
    "3,30",
    "4,oops",
]


@register(
    "scan_corrupt_records",
    oracle="""
    SELECT * FROM (VALUES
      (1, 10, NULL),
      (2, NULL, '2,notanumber'),
      (3, 30, NULL),
      (4, NULL, '4,oops')
    ) AS t(id, qty, corrupt)
    """)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fail-soft ingestion: PERMISSIVE CSV parsing quarantines malformed
    rows into a corrupt-record column instead of killing the job
    (the reference's fail-fast is one config flip away — FAILFAST mode;
    at 100 TB you triage bad rows from a column, not from stack traces).
    """
    d = _scratch("corrupt_csv")
    with open(os.path.join(d, "rows.csv"), "w") as fh:
        fh.write("\n".join(_CORRUPT_CSV_LINES) + "\n")
    df = (spark.read
          .schema("id int, qty int, corrupt string")
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "corrupt")
          .csv(d))
    return df.select("id", "qty", "corrupt")


@register("scan_jsonl", oracle="SELECT doc_id, lang, source, n_chars "
                               "FROM documents")
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with an EXPLICIT schema — at 100 TB,
    schema-on-read inference is a full extra pass over the data, so the
    reader always gets the contract up front (inference also widens all
    numerics and misses null-only columns). Mirrors the reference's JSON
    config surface (sources_config.json) applied to data files."""
    d = _scratch("scan_jsonl")
    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").json(d)
    return (spark.read
            .schema("doc_id bigint, lang string, source string, "
                    "n_chars bigint")
            .json(d)
            .select("doc_id", "lang", "source", "n_chars"))


@register("scan_orc", oracle=NATION_ORACLE)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: the second columnar format the engine certifies
    (same pushdown/pruning contract as parquet — Catalyst treats both
    as v1 FileScan with PartitionFilters/PushedFilters)."""
    d = _scratch("scan_orc")
    nation = tables.load(spark, sf_dir, "nation")
    nation.coalesce(1).write.mode("overwrite").orc(d)
    return spark.read.orc(d).select("n_nationkey", "n_name", "n_regionkey")


#: fixture rows whose values carry every CSV hazard: embedded
#: delimiter, doubled quotes, and a QUOTED NEWLINE (multiline record)
_CSV_HAZARDS = [
    (1, "plain"),
    (2, "comma, inside"),
    (3, 'says "hi" twice'),
    (4, "line one\nline two"),
    (5, "tab\tinside"),
]


@register(
    "scan_csv_multiline",
    oracle="""
    SELECT 1 AS id, 'plain' AS payload
    UNION ALL SELECT 2, 'comma, inside'
    UNION ALL SELECT 3, 'says "hi" twice'
    UNION ALL SELECT 4, 'line one' || chr(10) || 'line two'
    UNION ALL SELECT 5, 'tab' || chr(9) || 'inside'
    """)
def scan_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-newline CSV round-trip: records spanning physical lines
    (multiLine=true — the file is NOT line-splittable, so Spark reads
    it whole-file per partition; the trade a 100 TB ingest makes
    consciously and only for sources that need it), embedded
    delimiters, and doubled-quote escapes. The fixture is written
    through the engine's own csv writer and read back; every hazard
    value must survive byte-exactly."""
    d = _scratch("scan_csv_multiline")
    from pmc_conversion_spark.util import local_df
    rows = local_df(spark, _CSV_HAZARDS, "id int, payload string")
    (rows.coalesce(1).write.mode("overwrite")
     .option("header", True).option("quoteAll", True)
     .option("escape", '"').csv(d))
    return (spark.read.option("header", True)
            .option("multiLine", True)
            .option("quote", '"').option("escape", '"')
            .schema("id int, payload string")
            .csv(d))


#: nested-JSON fixture: struct field, string array, array of structs —
#: written verbatim, so the reader handles real nesting, not a flat row
_JSON_NESTED_LINES = [
    '{"id": 1, "meta": {"lang": "en", "tags": ["a", "b"]},'
    ' "spans": [{"s": 0, "e": 5}, {"s": 6, "e": 9}]}',
    '{"id": 2, "meta": {"lang": "nl", "tags": []},'
    ' "spans": [{"s": 2, "e": 3}]}',
    '{"id": 3, "meta": {"lang": "en", "tags": ["c"]}, "spans": []}',
    '{"id": 4, "meta": {"tags": ["d"]},'
    ' "spans": [{"s": 1}]}',  # missing lang + missing e -> nulls
]


@register(
    "scan_json_nested",
    oracle="""
    SELECT 1 AS id, 'en' AS lang, 2 AS n_tags, 0 AS span_s, 5 AS span_e
    UNION ALL SELECT 1, 'en', 2, 6, 9
    UNION ALL SELECT 2, 'nl', 0, 2, 3
    UNION ALL SELECT 3, 'en', 1, NULL, NULL
    UNION ALL SELECT 4, NULL, 1, 1, NULL
    """)
def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON ingestion: declared struct/array schemas (never
    inference — schema-on-config like everything else), dot-path
    projection through structs, outer-explode of struct arrays (rows
    with empty arrays survive with nulls), and absent-field tolerance
    (missing keys and partial inner structs read as null, not as a
    parse failure). The flatten is map-side only; column pruning
    reaches into the nested schema so unused branches are never
    decoded."""
    d = _scratch("scan_json_nested")
    with open(os.path.join(d, "data.jsonl"), "w") as f:
        f.write("\n".join(_JSON_NESTED_LINES) + "\n")
    schema = ("id long, meta struct<lang: string, tags: array<string>>, "
              "spans array<struct<s: long, e: long>>")
    df = spark.read.schema(schema).json(d)
    return (df.select(
        "id",
        F.col("meta.lang").alias("lang"),
        F.size(F.coalesce(F.col("meta.tags"),
                          F.expr("CAST(array() AS array<string>)")))
        .cast("int").alias("n_tags"),
        F.explode_outer("spans").alias("sp"))
        .select("id", "lang", "n_tags",
                F.col("sp.s").cast("int").alias("span_s"),
                F.col("sp.e").cast("int").alias("span_e")))


@register("scan_xml", oracle=NATION_ORACLE)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML round-trip via Spark 4's NATIVE XML data source (rowTag
    mode) — the config/interchange format the clinical-data world the
    reference serves still ships (the reference reads structured
    configs + TSVs; XML is the third structured-text surface after
    CSV and JSON). Written with the same writer, read back with an
    explicit schema: schema-on-read inference over XML is even
    costlier than JSON at 100 TB (tag scanning), so the reader always
    receives the contract."""
    d = _scratch("scan_xml")
    nation = tables.load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    (nation.coalesce(1).write.mode("overwrite")
     .option("rowTag", "nation").format("xml").save(d))
    return (spark.read
            .schema("n_nationkey int, n_name string, n_regionkey int")
            .option("rowTag", "nation").format("xml").load(d)
            .select("n_nationkey", "n_name", "n_regionkey"))


@register(
    "scan_variant_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           sum(CAST(props::JSON ->> 'k' AS BIGINT)) AS sum_k,
           max(CAST(props::JSON ->> 'k' AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """)
def scan_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column via Spark 4's VARIANT type: the events
    ``props`` JSON parses ONCE into the binary variant encoding, and
    field extraction (`try_variant_get`) runs on that encoding — at
    100 TB this replaces per-expression JSON re-parsing
    (`get_json_object` re-tokenizes the string for every path) with
    one parse + O(1) typed path reads, the same shredding argument
    the open-table formats make. The aggregate proves the extracted
    values are exact (DuckDB replays with its JSON operators)."""
    e = tables.load(spark, sf_dir, "events")
    v = e.select("event_type",
                 F.parse_json("props").alias("v"))
    k = F.try_variant_get("v", "$.k", "bigint")
    return (v.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k")))


@register("sink_codec_zstd", oracle=NATION_ORACLE)
def sink_codec_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec certification: parquet written with ZSTD
    (the modern default for cold analytical data — parquet-mr's
    snappy trades ~30% size for negligible CPU at read) and read
    back value-exact. Codec choice is a table property, not a plan
    property: the scan underneath is the same pushdown/pruning
    FileScan as every other parquet read here. tests assert the
    footer actually says ZSTD — a silent codec fallback would
    otherwise pass the value check."""
    d = _scratch("sink_codec_zstd")
    nation = tables.load(spark, sf_dir, "nation")
    (nation.coalesce(1).write.mode("overwrite")
     .option("compression", "zstd").parquet(d))
    return (spark.read.parquet(d)
            .select("n_nationkey", "n_name", "n_regionkey"))


@register(
    "sink_parquet_bloom_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey = 421
    """)
def sink_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet COLUMN BLOOM FILTERS on the write path: the file-level
    membership structure that serves point lookups on a
    NON-sort-order column — min/max stats can't help o_custkey point
    probes when the file is laid out by date (``sink_sorted_rowgroups``)
    or z-value (``sink_zorder_layout``); a bloom filter skips whole
    row groups for absent keys at ~10 bits/key. The write sets
    parquet.bloom.filter.enabled for the column; the read-back point
    query returns value-exact rows, and tests assert the filter is
    physically present in the footer."""
    d = _scratch("sink_parquet_bloom_filter")
    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    (orders.coalesce(1).write.mode("overwrite")
     # dictionary-encoded columns skip bloom writes (the dictionary is
     # already an exact membership structure) — disable it so the
     # bloom actually materializes on this small fixture
     .option("parquet.enable.dictionary", "false")
     .option("parquet.bloom.filter.enabled#o_custkey", "true")
     .option("parquet.bloom.filter.expected.ndv#o_custkey", "2000")
     .parquet(d))
    return (spark.read.parquet(d)
            .filter(F.col("o_custkey") == 421)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


@register(
    "scan_csv_latin1",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'café', 'Zürich'),
      (2, 'niño', 'Málaga'),
      (3, 'crème', 'Orléans')) AS t(id, word, city)
    """)
def scan_csv_latin1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-UTF-8 ingestion: a LATIN-1 encoded CSV (the encoding
    European clinical/ERP exports still ship) read with an explicit
    charset option — without it the é/ü/ñ bytes mojibake into
    replacement garbage that then poisons every downstream fingerprint
    and join key. The fixture file is written as REAL latin-1 bytes;
    the expected rows are pinned as VALUES, so a silently-wrong
    decode fails the value hash, not just an eyeball check."""
    d = _scratch("scan_csv_latin1")
    p = os.path.join(d, "data.csv")
    rows = "id,word,city\n1,café,Zürich\n2,niño,Málaga\n3,crème,Orléans\n"
    with open(p, "w", encoding="latin-1") as f:
        f.write(rows)
    return (spark.read
            .option("header", "true")
            .option("encoding", "ISO-8859-1")
            .schema("id int, word string, city string")
            .csv(d))


@register(
    "scan_python_datasource",
    oracle="""
    SELECT i AS id, i % 7 AS bucket,
           round((i * 37 % 1000) / 1000.0, 6) AS score
    FROM range(0, 10000) t(i)
    """)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source through the PySpark 4 Python DataSource API
    (sources/python_ds.py): a registered ``spark.read.format`` source
    whose driver-side ``partitions()`` is the parallelism contract
    (one InputPartition per task — the shard/offset-range mapping a
    real feed would return) and whose per-partition ``read`` iterator
    is Arrow-batched by the framework. The deterministic generator is
    replayed closed-form by the oracle."""
    from pmc_conversion_spark.sources.python_ds import \
        register_synthetic_source
    register_synthetic_source(spark)
    return (spark.read.format("synthetic_events")
            .option("n_parts", 8).load())


@register(
    "scan_file_metadata_column",
    oracle="""
    SELECT o_orderstatus AS status,
           'status=' || o_orderstatus AS file_dir,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """)
def scan_file_metadata_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_metadata`` hidden file column: every file-based scan can
    expose provenance (path, name, size, row index) WITHOUT the writer
    cooperating — the lineage primitive for 'which file did this bad
    row come from' at 100 TB. Rows are written partitioned by status,
    read back selecting ``_metadata.file_path``, and the provenance
    directory is parsed from the path; the oracle pins that the
    extracted provenance equals the partition value."""
    d = _scratch("scan_file_metadata_column")
    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    (orders.write.mode("overwrite").partitionBy("o_orderstatus")
     .parquet(d))
    back = spark.read.parquet(d).select(
        F.col("o_orderstatus").alias("status"),
        F.col("_metadata.file_path").alias("fp"))
    file_dir = F.regexp_extract("fp", r"(o_orderstatus=[^/]+)", 1)
    return (back.select("status",
                        F.regexp_replace(file_dir, "o_orderstatus=",
                                         "status=").alias("file_dir"))
            .groupBy("status", "file_dir")
            .agg(F.count(F.lit(1)).alias("n")))


@register(
    "scan_partition_evolution",
    oracle="""
    SELECT 'gen1' AS generation, o_orderstatus, count(*) AS n
    FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
    UNION ALL
    SELECT 'gen2', o_orderstatus, count(*)
    FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderstatus
    """)
def scan_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scheme evolution: generation 1 lands partitioned by
    STATUS, generation 2 repartitions the layout by PRIORITY — the
    migration every long-lived table eventually makes. The two
    generations cannot be one recursive scan (their directory schemas
    differ), so the read path scans each root separately and unions —
    with the partition column materializing back as a normal column
    in both. The oracle pins that layout evolution never changes the
    DATA, only the directory shape."""
    d = _scratch("scan_partition_evolution")
    orders = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    (orders.filter(F.col("o_orderkey") % 2 == 0)
     .write.mode("overwrite").partitionBy("o_orderstatus")
     .parquet(f"{d}/gen1"))
    (orders.filter(F.col("o_orderkey") % 2 == 1)
     .write.mode("overwrite").partitionBy("o_orderpriority")
     .parquet(f"{d}/gen2"))
    g1 = (spark.read.parquet(f"{d}/gen1")
          .select(F.lit("gen1").alias("generation"), "o_orderstatus"))
    g2 = (spark.read.parquet(f"{d}/gen2")
          .select(F.lit("gen2").alias("generation"), "o_orderstatus"))
    return (g1.unionByName(g2)
            .groupBy("generation", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n")))


@register(
    "stream_python_datasource",
    oracle="""
    SELECT i % 7 AS bucket, count(*) AS n,
           round(sum(round((i * 37 % 1000) / 1000.0, 6)), 4) AS score_sum
    FROM range(0, 5000) t(i)
    GROUP BY 1
    """)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom source through the Python DataSource API
    (sources/python_ds.py SyntheticTickerDataSource): engine-managed
    dict offsets, driver-side partition planning per micro-batch,
    Arrow-batched executor read — the full contract an in-house feed
    implements to appear as readStream. The bounded offset range
    drains in one micro-batch into a memory sink; the oracle replays
    the generator closed-form. Completes the API pair with the batch
    scan_python_datasource."""
    import uuid

    from pmc_conversion_spark.sources.python_ds import \
        register_ticker_source
    register_ticker_source(spark)
    stream = spark.readStream.format("synthetic_ticker").load()
    agg = (stream.groupBy((F.col("id") % 7).alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("score"), 4).alias("score_sum")))
    name = f"pyds_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="pmc_pyds_ckpt_"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(name)


@register(
    "pipeline_snapshot_gc",
    oracle="""
    SELECT 1 AS version, (SELECT count(*) FROM nation) AS n_rows,
           'removed' AS status
    UNION ALL
    SELECT 2, (SELECT count(*) FROM nation) - 1, 'removed'
    UNION ALL
    SELECT 3, (SELECT count(*) FROM nation) - 2, 'kept'
    UNION ALL
    SELECT 4, (SELECT count(*) FROM nation) - 3, 'kept_head'
    """)
def pipeline_snapshot_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention GC (Delta VACUUM / Iceberg expire_snapshots
    semantics on the engine's SnapshotStore): commit four distinct
    versions, expire all but the newest two, and report each
    version's fate. Invariants pinned by the check: expired dirs are
    gone (a read of v1 must fail), survivors still read their exact
    content, HEAD is always kept, and the MANIFEST audit trail keeps
    ALL entries (history outlives data, like the reference's git
    log)."""
    d = _scratch("pipeline_snapshot_gc")
    store = K.SnapshotStore(d)
    nation = tables.load(spark, sf_dir, "nation")
    entries = []
    for drop in (None, 0, 1, 2):
        df = nation if drop is None else nation.filter(
            ~F.col("n_nationkey").isin(*range(drop + 1)))
        entries.append(store.commit(df))
    gc = store.vacuum(keep_last=2)
    try:
        store.read(spark, version=entries[0]["version"],
                   schema=NATION_SCHEMA).count()
        raise AssertionError("expired v1 must not be readable")
    except Exception as exc:
        if isinstance(exc, AssertionError):
            raise
    head_rows = store.read(spark, schema=NATION_SCHEMA).count()
    if head_rows != entries[-1]["n_rows"]:
        raise AssertionError(
            f"head read {head_rows} != {entries[-1]['n_rows']}")
    if len(store.versions()) != 4:
        raise AssertionError("MANIFEST must keep all entries after GC")
    head_v = entries[-1]["version"]
    rows = []
    for e in entries:
        status = ("kept_head" if e["version"] == head_v
                  else "removed" if e["version"] in gc["removed"]
                  else "kept")
        rows.append((e["version"], e["n_rows"], status))
    from pmc_conversion_spark.queries.manifest import fixture_df
    return fixture_df(spark, rows, "version int, n_rows long, status string")


@register(
    "scan_csv_dropmalformed",
    oracle="""
    SELECT * FROM (VALUES (1, 10), (3, 30)) AS t(id, qty)
    """)
def scan_csv_dropmalformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROPMALFORMED reader mode — the third point on the fail-soft
    spectrum next to PERMISSIVE-with-quarantine (scan_corrupt_records)
    and FAILFAST: malformed rows vanish silently and only clean rows
    land. Registered so the SEMANTIC difference is pinned: the same
    corrupt fixture yields 4 rows under PERMISSIVE (2 quarantined)
    and exactly the 2 clean rows here — the mode to use when bad rows
    are expected noise, never when attrition must be audited (then
    PERMISSIVE + a quarantine count is the contract)."""
    d = _scratch("dropmalformed_csv")
    with open(os.path.join(d, "rows.csv"), "w") as fh:
        fh.write("\n".join(_CORRUPT_CSV_LINES) + "\n")
    df = (spark.read
          .schema("id int, qty int")
          .option("header", "true")
          .option("mode", "DROPMALFORMED")
          .csv(d))
    return df.select("id", "qty")


@register(
    "scan_glob_filtered",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """)
def scan_glob_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Option-driven directory filtering: ``recursiveFileLookup`` +
    ``pathGlobFilter='*.tsv'`` scans a mixed drop-zone tree (TSVs
    interleaved with .sha1 sidecars, logs, and hidden files across
    nested dirs) and reads ONLY the data files — the declarative form
    of the reference's extension filtering (scripts/sync.py:15-16,37)
    that happens at FILE-LISTING time on the driver, so excluded
    files are never opened, never split, and never counted toward
    partitions (at 100 TB the listing is the first scan bottleneck;
    glob-at-listing beats read-then-filter by the excluded bytes)."""
    d = _scratch("scan_glob_filtered")
    nation = tables.load(spark, sf_dir, "nation")
    sub = os.path.join(d, "batch1", "nested")
    os.makedirs(sub, exist_ok=True)
    rows = [(r.n_nationkey, r.n_name, r.n_regionkey)
            for r in nation.collect()]  # 25-row dim: bounded fixture
    def _tsv(path, rs):
        with open(path, "w") as fh:
            for nk, nm, rk in rs:
                fh.write(f"{nk}\t{nm}\t{rk}\n")
    _tsv(os.path.join(d, "batch1", "a.tsv"),
         [r for r in rows if r[0] < 10])
    _tsv(os.path.join(sub, "b.tsv"), [r for r in rows if r[0] >= 10])
    for noise in ("a.tsv.sha1", "run.log", ".hidden.tsv.bak"):
        with open(os.path.join(d, "batch1", noise), "w") as fh:
            fh.write("not data\n")
    return (spark.read
            .schema(NATION_SCHEMA)
            .option("sep", "\t")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.tsv")
            .csv(d))


DIALECT_ROWS = [
    (1, 'plain text'),
    (2, 'has,comma and "quotes"'),
    (3, 'tab\there'),
    (4, 'new\nline inside'),
    (5, 'trailing space '),
    (6, ''),
]


@register(
    "sink_csv_dialect_roundtrip",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'plain text'),
      (2, 'has,comma and "quotes"'),
      (3, 'tab' || chr(9) || 'here'),
      (4, 'new' || chr(10) || 'line inside'),
      (5, 'trailing space '),
      (6, '')
    ) AS t(id, payload)
    """)
def sink_csv_dialect_roundtrip(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CSV dialect round-trip for the strings that BREAK naive
    exporters: embedded delimiters, double quotes, tabs, NEWLINES
    inside fields, trailing whitespace, and empty-vs-null. Written
    with quoting+escaping enabled, read back with ``multiLine`` and
    the matching quote/escape dialect, and value-checked against the
    fixture — the contract that data can leave and re-enter the
    engine through the reference's delimited interchange format
    (luigi-pipeline/main.py:109-126) without corruption. One-file
    bounded fixture; the reader settings are the documented dialect,
    not defaults."""
    d = _scratch("sink_csv_dialect_roundtrip")
    from pmc_conversion_spark.queries.manifest import fixture_df
    df = fixture_df(spark, DIALECT_ROWS, "id int, payload string")
    out = os.path.join(d, "out")
    (df.coalesce(1).write.mode("overwrite")
     .option("header", True)
     .option("quoteAll", True)
     .option("escape", '"')
     .option("ignoreLeadingWhiteSpace", False)
     .option("ignoreTrailingWhiteSpace", False)
     .csv(out))
    back = (spark.read
            .schema("id int, payload string")
            .option("header", True)
            .option("multiLine", True)
            .option("quote", '"')
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(out))
    return back.select(
        "id", F.coalesce("payload", F.lit("")).alias("payload"))


@register(
    "sink_json_nested_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           round(o_totalprice, 2) AS price,
           CAST(o_orderkey % 5 AS BIGINT) AS bucket,
           concat('tag', CAST(o_orderkey % 3 AS VARCHAR)) AS first_tag
    FROM orders WHERE o_orderkey % 50 = 0
    """)
def sink_json_nested_roundtrip(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """NESTED-structure JSON round-trip: rows leave as JSON lines
    carrying a struct column and an array column, come back through a
    schema-first read, and re-flatten to the original values — the
    interchange contract for config/event payloads where CSV's flat
    model can't go (and the write/read pair that silently reorders or
    NULLs struct fields in sloppy engines). Schema-on-read (never
    inference); struct field access after the round-trip proves field
    identity, the array head proves element order survived."""
    d = _scratch("sink_json_nested_roundtrip")
    o = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 50 == 0)
    nested = o.select(
        "o_orderkey",
        F.struct(F.col("o_orderstatus").alias("status"),
                 F.round("o_totalprice", 2).alias("price")).alias("meta"),
        F.array(F.concat(F.lit("tag"),
                         (F.col("o_orderkey") % 3).cast("string")),
                F.lit("tagX")).alias("tags"),
        (F.col("o_orderkey") % 5).alias("bucket"))
    out = os.path.join(d, "out")
    nested.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "o_orderkey bigint, "
        "meta struct<status: string, price: double>, "
        "tags array<string>, bucket bigint").json(out)
    return back.select(
        "o_orderkey",
        F.col("meta.status").alias("status"),
        F.col("meta.price").alias("price"),
        "bucket",
        F.col("tags")[0].alias("first_tag"))


@register(
    "scan_nested_pushdown",
    oracle="""
    SELECT o_orderkey, o_orderstatus AS status,
           round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 200000
    """)
def scan_nested_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO nested parquet structs: filters on
    ``meta.status`` and ``meta.price`` reach the reader as
    ``PushedFilters: [..EqualTo(meta.status,F)..]`` and the scan's
    ReadSchema prunes to exactly the struct fields used — the two
    properties that keep deeply-nested event/telemetry schemas
    queryable at 100 TB (without them every nested query reads every
    field of every row group). Round-trips through a REAL nested
    parquet write; plan-asserted in tests/test_plan_quality.py."""
    d = _scratch("scan_nested_pushdown")
    o = tables.load(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(F.col("o_orderstatus").alias("status"),
                 F.round("o_totalprice", 2).alias("price"),
                 F.col("o_orderpriority").alias("unused_field"))
        .alias("meta"))
    out = os.path.join(d, "out")
    nested.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return (back.filter((F.col("meta.status") == "F")
                        & (F.col("meta.price") > 200000))
            .select("o_orderkey",
                    F.col("meta.status").alias("status"),
                    F.col("meta.price").alias("price")))


@register(
    "scan_csv_bom_handling",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'alpha', 10),
      (2, 'beta', 20),
      (3, 'gamma', 30)
    ) AS t(id, name, qty)
    """)
def scan_csv_bom_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 BOM handling — the invisible three bytes Excel and many
    Windows exporters prepend, which naive readers fold into the
    first header name (yielding a phantom '\\ufeffid' column whose
    lookups then silently miss). The fixture file carries a real BOM;
    the reader must yield clean column names and unpolluted first-row
    values. Pinned alongside the encoding corner scan_csv_latin1 —
    together they cover the two classic interchange-encoding
    landmines."""
    d = _scratch("scan_csv_bom")
    p = os.path.join(d, "data.csv")
    with open(p, "wb") as fh:
        fh.write(b"\xef\xbb\xbf")  # UTF-8 BOM
        fh.write(b"id,name,qty\n1,alpha,10\n2,beta,20\n3,gamma,30\n")
    df = (spark.read
          .schema("id int, name string, qty int")
          .option("header", True)
          .option("encoding", "UTF-8")
          .csv(d))
    if "﻿id" in df.columns:
        raise AssertionError("BOM leaked into the header name")
    return df.select("id", "name", "qty")


@register(
    "scan_text_wholefile",
    oracle="""
    SELECT r_name AS fname, 1 + r_regionkey AS n_lines,
           24 * (1 + r_regionkey) AS n_chars
    FROM region
    """)
def scan_text_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.text(..., wholetext=True)`` — ONE ROW PER FILE
    instead of one per line: the ingestion mode for documents whose
    unit IS the file (markdown corpora, code files, configuration
    dumps) where line-splitting destroys the record. Five synthetic
    files (one per region, r_regionkey+1 lines of 24 chars + LF) are
    written then read back whole; the query proves the mode by
    recovering each file's line and char counts from the single
    wholetext value. File name arrives via input_file_name-style
    metadata (_metadata.file_name), so no content sniffing. At
    corpus scale each file is one task-local read — no shuffle at
    all until the final tiny aggregate."""
    import os
    d = _scratch("scan_text_wholefile")
    os.makedirs(d, exist_ok=True)
    region = tables.load(spark, sf_dir, "region").collect()
    for r in region:
        line = ("x" * 24 + "\n") * (1 + r["r_regionkey"])
        with open(os.path.join(d, f"{r['r_name']}.txt"), "w") as fh:
            fh.write(line)
    df = (spark.read.text(d, wholetext=True)
          .select(F.url_decode(F.element_at(
              F.split(F.col("_metadata.file_name"), "\\.txt"), 1))
              .alias("fname"),
              F.col("value")))
    return df.select(
        "fname",
        (F.length("value")
         - F.length(F.regexp_replace("value", "\n", ""))).cast("bigint")
        .alias("n_lines"),
        F.length(F.regexp_replace("value", "\n", "")).cast("bigint")
        .alias("n_chars"))


@register("scan_fixed_width", oracle=NATION_ORACLE)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-WIDTH (copybook-style) ingest — the mainframe extract
    format that still feeds clinical/finance landing zones: no
    delimiters, fields live at byte offsets. The fixture renders
    nation into a 32-byte layout (key@1+6, name@7+20, region@27+6,
    space-padded via printf), the reader is sources/scans.py
    scan_fixed_width — ONE spark.read.text line scan plus
    substring/trim/cast projections, JVM-side and splittable, so a
    100 TB fixed-width dump parallelizes exactly like CSV. The
    oracle round-trips back to the nation view, proving the
    pad→slice→trim→cast path is lossless."""
    d = _scratch("scan_fixed_width")
    nation = tables.load(spark, sf_dir, "nation")
    fixed = nation.select(
        F.format_string("%-6d%-20s%-6d",
                        F.col("n_nationkey"), F.col("n_name"),
                        F.col("n_regionkey")).alias("value"))
    shutil.rmtree(d, ignore_errors=True)
    fixed.coalesce(1).write.mode("overwrite").text(d)
    return S.scan_fixed_width(spark, d, [
        ("n_nationkey", 1, 6, "int"),
        ("n_name", 7, 20, "string"),
        ("n_regionkey", 27, 6, "int"),
    ])

"""Record-format sources/sinks (SURVEY.md §2.1 S1-S10) re-expressed as
DataFrame readers over the reference's file formats.

FASTQ files parse via binaryFile + a mapInPandas chunker: one task
per file, the 4-line record grouping (read_file_n_lines,
/root/reference/kneaddata/utilities.py:934-947) applied inside the Arrow
batch. gzip/bz2 (S2/S3) decompress inline (python codecs). For
petabyte-scale FASTQ a splittable custom DataSource would replace the
per-file task; parquet/Iceberg clip tables are the primary scale input —
these readers exist for reference-format parity.

SAM projection (S6) keeps the FIRST occurrence per read id
(utilities.py:490-520: id removed from pending set after first write) —
exact parity via the pos column + first_occurrence_dedup.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pairs import first_occurrence_dedup

FASTQ_SCHEMA = "src string, pos bigint, read_id string, seq string, qual string"


def _decompress(path: str, raw: bytes) -> bytes:
    if path.endswith(".gz"):
        return _gzip.decompress(raw)
    if path.endswith(".bz2"):
        return _bz2.decompress(raw)
    return raw


def _parse_fastq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {k: [] for k in ("src", "pos", "read_id", "seq", "qual")}
        for path, raw in zip(pdf["path"], pdf["content"]):
            text = _decompress(path, bytes(raw)).decode("utf-8", "replace")
            lines = text.splitlines()
            for i in range(0, len(lines) - 3, 4):
                out["src"].append(path)
                out["pos"].append(i // 4)
                out["read_id"].append(lines[i][1:] if lines[i][:1] == "@" else lines[i])
                out["seq"].append(lines[i + 1])
                out["qual"].append(lines[i + 3])
        yield pd.DataFrame(out)


def read_fastq(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2/S3/S4: FASTQ (optionally .gz/.bz2) -> DataFrame."""
    bf = spark.read.format("binaryFile").load(path).select("path", "content")
    return bf.mapInPandas(_parse_fastq, schema=FASTQ_SCHEMA)


def fastq_to_fasta(df: DataFrame) -> DataFrame:
    """S8: drop the quality column; filter the sequence alphabet
    (utilities.py:1008-1057, alphabet predicate :1045)."""
    return df.where(F.col("seq").rlike("^[ATGCNatgcn]+$")).select(
        "src", "pos", "read_id", "seq"
    )


def sam_to_fastq(sam: DataFrame, keep_pos: bool = False) -> DataFrame:
    """S6: project SAM cols (read_id, seq, qual), dedup by id keeping the
    first occurrence in file order (utilities.py:490-520). keep_pos=True
    retains the ordinal for ordered emission (write_fastq)."""
    proj = sam.select("read_id", "seq", "qual", "pos")
    out = first_occurrence_dedup(proj, key="read_id", pos_col="pos")
    return out if keep_pos else out.drop("pos")


def write_fastq(
    df: DataFrame,
    path: str,
    order_cols: tuple[str, ...] = ("src", "pos"),
    single_file: bool = False,
) -> str:
    """Byte-exact 4-line FASTQ emission sink (VERDICT r1 next-round #6;
    reference golden-file parity: tests/basic_tests.py:94-108 byte-compares
    sam_to_fastq output with filecmp).

    The record is built as ONE string column (@id\\nseq\\n+\\nqual) and
    written with the text sink after a global orderBy — a range-partitioned
    sort, so every task writes its ordered slice (no single-partition
    funnel); part-file index order IS record order. single_file=True
    additionally concatenates the ordered parts into `path + '.fastq'`
    (driver-side file append — bounded by part count, used for
    golden-file byte comparison in tests)."""
    rec = F.concat_ws(
        "\n",
        F.concat(F.lit("@"), F.col("read_id")),
        F.col("seq"),
        F.lit("+"),
        F.col("qual"),
    )
    ordered = df.orderBy(*[F.col(c).asc() for c in order_cols]).select(rec.alias("value"))
    ordered.write.mode("overwrite").text(path)
    if not single_file:
        return path
    import glob

    out = path.rstrip("/") + ".fastq"
    with open(out, "wb") as w:
        for p in sorted(glob.glob(f"{path}/part-*")):
            with open(p, "rb") as r:
                w.write(r.read())
    return out


def split_mates_by_suffix(df: DataFrame, id_col: str = "read_id") -> DataFrame:
    """S5: the bam_to_fastq pair split (utilities.py:438-449, grep '/1$')
    as a mate-column derivation instead of two physical files."""
    rid = F.col(id_col)
    return df.withColumn(
        "mate",
        F.when(rid.endswith("/1"), 1).when(rid.endswith("/2"), 2).otherwise(None),
    ).withColumn(
        "read_key",
        F.when(
            rid.endswith("/1") | rid.endswith("/2"),
            rid.substr(F.lit(1), F.length(rid) - 2),
        ).otherwise(rid),
    )

"""Scalar functions (SURVEY.md §2.7 C1-C8) — all JVM Column algebra.

Reference semantics per function cited inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def reverse_complement(seq: Column) -> Column:
    """C1: translate(ATCGatcg -> TAGCtagc) then reverse
    (bowtie2_discordant_pairs.py:48-54)."""
    return F.reverse(F.translate(seq, "ATCGatcg", "TAGCtagc"))


def read_id_minus_pair(read_id: Column) -> Column:
    """C2: strip the trailing mate char (utilities.py:47-48,
    bowtie2_discordant_pairs.py:168)."""
    return read_id.substr(F.lit(1), F.length(read_id) - 1)


def rna_to_dna(seq: Column) -> Column:
    """C3: U->T back-transcription + space strip
    (db_preprocessing/convert_rna.py:8-27)."""
    return F.regexp_replace(F.translate(seq, "Uu", "Tt"), " ", "")


def normalize_read_id(raw_id: Column, mate: Column) -> Column:
    """F6: identifier dialect normalization — strip space-delimited suffix,
    append '#0/<mate>' (utilities.py:367-406)."""
    base = F.regexp_extract(raw_id, r"^(\S+)", 1)
    return F.concat(base, F.lit("#0/"), mate.cast("string"))


def sequence_alphabet_ok(seq: Column) -> Column:
    """F7: [ATGCNatgcn]+ validity predicate (utilities.py:1045)."""
    return seq.rlike("^[ATGCNatgcn]+$")


def phred33_mean(qual: Column) -> Column:
    """C8: mean phred33 quality of an ASCII quality string
    (config.py:52-53): mean(codepoint - 33) via HOF aggregate."""
    chars = F.split(qual, "")
    total = F.aggregate(
        chars, F.lit(0).cast("long"), lambda s, c: s + F.ascii(c) - F.lit(33)
    )
    return F.try_divide(total.cast("double"), F.length(qual))

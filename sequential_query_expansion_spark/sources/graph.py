"""Concept-graph sources: UMLS RRF and ConceptNet CSV scans.

  S1 RRF scan      — pipe-delimited `.RRF`; MRCONSO rows filtered to
                     ENG/P/PF/Y, bracket-content stripped, lowercased,
                     alpha-gated (readRrfFile, umls/umlsSeqPubMed.ipynb
                     :70-128; filter :85, bracket regex :89, lower :92)
  S2 ConceptNet CSV — (relation, start, end) triples with a printable-
                     ASCII gate, forward + inverse adjacency
                     (optParams/wsdm12-improved-NThrsh-coordAsc.ipynb
                     :277-295, insert :284-285)

Both emit the engine's canonical ``graph_edges(rel, src, dst)`` shape
(plus optional weight); graph lookups downstream are broadcast hash
joins (J1/J2). Filters are plain Catalyst predicates → pushed into the
file scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import local_frame

PRINTABLE_RE = "^[\\x20-\\x7e]+$"

# S4 static semantic-type table: the reference fetches
# SemanticTypes_2013AA.txt over HTTP (umls/umlsSeqPubMed.ipynb:292-316)
# to map abbreviation/name -> TUI; our build is network-free, so the
# subset it actually uses — the 6 "good" types of the STY whitelist
# (umls :423-427, conceptNet/conceptNetSeq.ipynb:146) — ships as a
# static table.
SEMANTIC_TYPES = {
    "clnd": ("T200", "Clinical Drug"),
    "dsyn": ("T047", "Disease or Syndrome"),
    "mobd": ("T048", "Mental or Behavioral Dysfunction"),
    "neop": ("T191", "Neoplastic Process"),
    "sosy": ("T184", "Sign or Symptom"),
    "patf": ("T046", "Pathologic Function"),
}

GOOD_TUIS = sorted(tui for tui, _ in SEMANTIC_TYPES.values())


def semantic_types_df(spark: SparkSession) -> DataFrame:
    """(abbr, tui, name) lookup DataFrame (broadcast-sized)."""
    return local_frame(
        spark,
        [(a, t, n) for a, (t, n) in sorted(SEMANTIC_TYPES.items())],
        "abbr string, tui string, name string",
    )


def read_mrconso(spark: SparkSession, path: str) -> DataFrame:
    """MRCONSO.RRF -> (cui, name) with the reference's exact gates:
    row[1]=='ENG' and row[2]=='P' and row[4]=='PF' and row[6]=='Y';
    bracket-content removed, lowercased, alphabetic-only kept."""
    raw = spark.read.csv(path, sep="|", header=False)
    name = F.lower(
        F.trim(F.regexp_replace(F.col("_c14"), r"[\(\[].*?[\)\]]", ""))
    )
    return (
        raw.filter(
            (F.col("_c1") == "ENG")
            & (F.col("_c2") == "P")
            & (F.col("_c4") == "PF")
            & (F.col("_c6") == "Y")
        )
        .select(F.col("_c0").alias("cui"), name.alias("name"))
        .filter(F.col("name").rlike("^[a-z ]+$"))
    )


def read_mrrel(spark: SparkSession, path: str) -> DataFrame:
    """MRREL.RRF -> graph_edges(rel, src, dst, weight) where weight is
    the edge multiplicity (the reference upgrades its set to a Counter
    at umls :153 to support the mutual-count filter)."""
    raw = spark.read.csv(path, sep="|", header=False)
    return (
        raw.select(
            F.col("_c3").alias("rel"),
            F.col("_c0").alias("src"),
            F.col("_c4").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("rel", "src", "dst")
        .agg(F.count("*").alias("weight"))
    )


def read_mrsty(spark: SparkSession, path: str) -> DataFrame:
    """MRSTY.RRF -> (cui, tui) semantic-type assignments (F2's input)."""
    raw = spark.read.csv(path, sep="|", header=False)
    return raw.select(F.col("_c0").alias("cui"), F.col("_c1").alias("tui"))


def read_conceptnet_csv(
    spark: SparkSession, path: str, with_inverse: bool = True
) -> DataFrame:
    """ConceptNet (relation,start,end) CSV -> graph_edges; the inverse
    copy reproduces the reference's two-way adjacency insert (:284-285)."""
    raw = spark.read.csv(
        path, schema="rel string, src string, dst string"
    ).filter(
        F.col("src").rlike(PRINTABLE_RE) & F.col("dst").rlike(PRINTABLE_RE)
    )
    if not with_inverse:
        return raw
    inv = raw.select("rel", F.col("dst").alias("src"), F.col("src").alias("dst"))
    return raw.unionByName(inv).distinct()


def sty_whitelist_filter(
    edges: DataFrame, sty: DataFrame, good_tuis: list
) -> DataFrame:
    """F2/F4: keep edges whose dst concept has a whitelisted semantic
    type — a semi-join against the (cui, tui) table."""
    keep = sty.filter(F.col("tui").isin(good_tuis)).select(
        F.col("cui").alias("dst")
    )
    return edges.join(keep, "dst", "left_semi")

"""N-Triples ingestion + entity assembly (SURVEY §2.1 S1-S3, §2.4 A2 ★,
§2.2 F1-F3).

Reference: the Wikidata truthy dump is grep-filtered during download
(create_inlets.py:160-167), streamed through lightrdf, predicate-
mapped, blocklist-filtered, cleaned, and group-adjacent-assembled into
per-subject entity dicts (create_kv.py:27-125), then split into five
RocksDB stores (S9).

Spark-first: the dump is a splittable text source; parse/clean/filter
are column expressions (pushed into the scan stage); entity assembly
is one groupBy; the "stores" are projections of the one entities
DataFrame (S9/S10 eliminated per SURVEY §1.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# F1: the 13-predicate map, verbatim contract from create_kv.py:37-51.
PREDICATE_MAPPING = {
    "<http://schema.org/about>": "about",
    "<http://www.wikidata.org/prop/direct/P31>": "instance_of",
    "<http://www.wikidata.org/prop/direct/P279>": "subclass_of",
    "<http://www.wikidata.org/prop/direct/P360>": "is_a_list_of",
    "<http://www.wikidata.org/prop/direct/P4224>": "category_contains",
    "<http://www.wikidata.org/prop/direct/P1753>": "list_related_to_category",
    "<http://www.wikidata.org/prop/direct/P1754>": "category_related_to_list",
    "<http://www.wikidata.org/prop/direct/P18>": "image",
    "<http://www.wikidata.org/prop/direct/P948>": "page_banner",
    "<http://schema.org/name>": "name",
    "<http://www.w3.org/2000/01/rdf-schema#label>": "label",
    "<http://schema.org/description>": "description",
    "<http://www.w3.org/2002/07/owl#sameAs>": "same_as",
}

# Single- vs multi-valued predicates (create_kv.py:52).
PREDICATES_ONE = ["about", "name", "label", "description", "same_as"]
PREDICATES_MANY = [
    "instance_of",
    "subclass_of",
    "is_a_list_of",
    "category_contains",
    "list_related_to_category",
    "category_related_to_list",
    "image",
    "page_banner",
]

# F2: instance_of blocklist (create_kv.py:54-59) — cleaned QIDs.
INSTANCE_OF_BLOCKLIST = ["Q13442814", "Q7318358", "Q4167410", "Q11266439"]

_STRIP_PREFIXES = (
    "^<http://www\\.wikidata\\.org/entity/"
    "|^<https://en\\.wikipedia\\.org/wiki/"
    "|^<http://commons\\.wikimedia\\.org/wiki/"
)


def _clean(col):
    """S3: strip entity/enwiki/commons IRI wrappers or unwrap an
    ``"..."@en`` literal; NULL for anything else (the reference raises
    and skips — create_kv.py:64-81)."""
    iri = F.regexp_replace(F.regexp_replace(col, _STRIP_PREFIXES, ""), ">$", "")
    literal = F.regexp_extract(col, '^"(.*)"@en$', 1)
    return (
        F.when(col.rlike(_STRIP_PREFIXES), iri)
        .when(col.rlike('^".*"@en$'), literal)
        .otherwise(F.lit(None))
    )


def parse_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """S1+S2: raw N-Triples text → DataFrame[subject, predicate, object].

    bz2/text is splittable, so the scan parallelizes across the
    cluster — the reference's 2h40m single-threaded grep becomes a
    distributed filter. The predicate filter applies *before* parsing
    work, like the download-time grep (create_inlets.py:160-167).
    """
    lines = spark.read.text(path)
    triples = lines.select(
        F.regexp_extract("value", r"^(\S+)\s+(\S+)\s+(.+?)\s*\.\s*$", 1).alias("subject_raw"),
        F.regexp_extract("value", r"^(\S+)\s+(\S+)\s+(.+?)\s*\.\s*$", 2).alias("predicate_raw"),
        F.regexp_extract("value", r"^(\S+)\s+(\S+)\s+(.+?)\s*\.\s*$", 3).alias("object_raw"),
    )
    return triples.filter(F.col("predicate_raw") != "")


def filtered_triples(raw: DataFrame) -> DataFrame:
    """F1-F3 + S3 over raw triples → DataFrame[subject, predicate, object]
    with short predicate names and cleaned ids/literals."""
    mapping_expr = F.create_map(*[F.lit(x) for kv in PREDICATE_MAPPING.items() for x in kv])
    df = (
        raw.withColumn("predicate", mapping_expr[F.col("predicate_raw")])
        .filter(F.col("predicate").isNotNull())  # F1
        .withColumn("subject", _clean(F.col("subject_raw")))
        .withColumn("object", _clean(F.col("object_raw")))
        .filter(F.col("subject").isNotNull() & F.col("object").isNotNull())  # S3 skip path
    )
    # F2: blocklisted instance_of objects.
    df = df.filter(
        ~((F.col("predicate") == "instance_of") & F.col("object").isin(INSTANCE_OF_BLOCKLIST))
    )
    # F3: drop `name` triples whose subject is an enwiki page (those
    # subjects keep the raw title after cleaning; enwiki subjects are
    # the only non-Q subjects in the dump).
    df = df.filter(
        ~((F.col("predicate") == "name") & F.col("subject_raw").startswith("<https://en.wikipedia.org"))
    )
    return df.select("subject", "predicate", "object")


def assemble_entities(triples: DataFrame) -> DataFrame:
    """A2 ★: one wide row per subject — single-valued predicates via
    min(), multi-valued via sorted collect_list (the reference's
    group-adjacent dict build, create_kv.py:84-125, as one shuffle).

    Tie rule (SURVEY §4 item 3): when a "single-valued" predicate has
    several values for one subject (common in real dumps), the
    lexicographically smallest wins — min() is order-insensitive under
    shuffle, unlike first(), so entities are run-to-run identical.
    """
    aggs = [
        F.min(F.when(F.col("predicate") == p, F.col("object"))).alias(p)
        for p in PREDICATES_ONE
    ] + [
        F.array_sort(F.collect_list(F.when(F.col("predicate") == p, F.col("object")))).alias(p)
        for p in PREDICATES_MANY
    ]
    return triples.groupBy("subject").agg(*aggs)


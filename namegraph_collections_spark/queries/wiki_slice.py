"""Oracle-checked end-to-end slice of the reference pipeline
(SURVEY §3.1; readme.md:22-31 — raw dumps → enriched collection docs).

The plans (`plans/collections_core.py` → `enrich_merge.py` →
`letter_merge.py` → `doc_factory.py`) mirror
create_collections.py:41-702 and create_merged.py:383-989. Pytest
covers them with hand fixtures; these three queries put the SAME plan
code under the driver's hard DuckDB-value-hash gate by synthesizing a
deterministic wiki universe from the star-schema tables inside the
query — identically on both engines — and running the real pipeline
over it.

Fixture design (every rule is arithmetic on c_custkey/n_nationkey so
DuckDB can re-derive it):

- members = customers: qid Q(100000+k), page id 10000+k, title
  'Customer k' ('Πελάτης k' when k%13==0 → title curation fails →
  J8 label fallback to 'Kunde k'); qid mapping via `about` triples
  (k%3==0), wikimapper (else), or neither (k%89==0 → dropped, J4);
  alias entities with same_as and no types when k%11==0 (ParentFinder
  fallback, create_collections.py:566-575) whose canonical carries a
  DIFFERENT segment type so the fallback is value-visible.
- type hierarchy: 5 segment leaves → 2 mids → 2 roots (subclass_of
  chains exercised through the J14 closure).
- collections: per nation TWO categories split ',_A–M'/',_N–Z'
  (letter-range merge, create_merged.py:745-804), 5 region lists
  (category→list merge, :614-706, via all three candidate
  priorities), plus specials for F7 (Q13406463-only types), F8
  (blocklisted type), F9 ('Wikipedia:' name), F10 (' by <lower>'),
  and an exact-name duplicate (remove_duplicates, :992-1017).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from namegraph_collections_spark.plans.collections_core import (
    build_allowlists,
    extract_collections,
    group_members,
    link_members,
    subclass_reachability,
    validate_members,
)
from namegraph_collections_spark.functions.det_round import round6_det
from namegraph_collections_spark.queries.registry import (
    register,
    run_parallel,
    tbl,
)
from namegraph_collections_spark.sources.ntriples import assemble_entities

_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _seg_col():
    expr = F.lit(4)
    for i, s in enumerate(_SEGS[:4]):
        expr = F.when(F.col("c_mktsegment") == s, F.lit(i)).otherwise(expr)
    return expr


def _q(base: int, off):
    # QID namespaces must stay DISJOINT for any key domain: customers
    # live at Q(100000+k); categories/specials/types/lists occupy the
    # fixed ranges Q300000+/Q370000+/Q400000–Q500004/Q600000+. The
    # engine joins a constructed qrank table on qid while the oracle
    # derives ranks arithmetically — equivalent only under this
    # invariant (a colliding qid fans the join out). Synthetic scale
    # generators must shift c_custkey far enough to clear the fixed
    # ranges (tools/gen_scale.py shifts by 10M per copy).
    return F.concat(F.lit("Q"), (F.lit(base) + off).cast("string"))


def _customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    k = F.col("k")
    df = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_nationkey").alias("n"),
            F.col("n_regionkey").alias("r"),
            _seg_col().alias("seg"),
        )
        .withColumn("qid", _q(100000, k))
        .withColumn("page_id", k + 10000)
        .withColumn(
            "title",
            F.when(k % 13 == 0, F.concat(F.lit("Πελάτης "), k.cast("string"))).otherwise(
                F.concat(F.lit("Customer "), k.cast("string"))
            ),
        )
        .withColumn(
            "curated",
            F.when(k % 13 == 0, F.concat(F.lit("kunde"), k.cast("string"))).otherwise(
                F.concat(F.lit("customer"), k.cast("string"))
            ),
        )
        .withColumn("eff_seg", F.when(k % 11 == 0, (F.col("seg") + 1) % 5).otherwise(F.col("seg")))
        .withColumn("no_map", k % 89 == 0)
        .withColumn("about_route", (k % 3 == 0) & ~F.col("no_map"))
    )
    return df


def _nation_cats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two category collections per nation: item Q(300000+2n+v),
    article 'Category:Customers_of_<n_name>,_A–M|N–Z' (v=0|1)."""
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    cats = n.withColumn("v", F.explode(F.array(F.lit(0), F.lit(1))))
    return cats.select(
        F.col("n_nationkey").alias("n"),
        "n_name",
        F.col("n_regionkey").alias("r"),
        "v",
        _q(300000, 2 * F.col("n_nationkey") + F.col("v")).alias("item"),
        F.concat(
            F.lit("Category:Customers_of_"),
            F.col("n_name"),
            F.when(F.col("v") == 0, F.lit(",_A–M")).otherwise(F.lit(",_N–Z")),
        ).alias("article"),
    )


# Specials: (item, article, type_qid). Member rules live in _fixture.
_SPECIALS = [
    ("Q370000", "Category:Customers_in_AFRICA", "Q400000"),  # name-match merge (c)
    ("Q370001", "Category:Wikipedia:Customer_cleanup", "Q400000"),  # F9
    ("Q370002", "Category:Customers_by_country", "Q400000"),  # F10
    ("Q370003", "Category:Customers_of_NATION_3", "Q400001"),  # exact-name dup (A8)
]

# Type hierarchy: leaves Q50000s → mids Q45000(s%2) → roots Q40000m.
_TYPE_TRIPLES = (
    [(f"Q{500000 + s}", "subclass_of", f"Q{450000 + s % 2}") for s in range(5)]
    + [(f"Q{500000 + s}", "label", f"Segment {s}") for s in range(5)]
    + [(f"Q{450000 + m}", "subclass_of", f"Q{400000 + m}") for m in range(2)]
    + [(f"Q{450000 + m}", "label", f"Mid {m}") for m in range(2)]
    + [(f"Q{400000 + m}", "label", f"Root {m}") for m in range(2)]
    + [
        ("Q4167836", "label", "Wikimedia category"),
        ("Q13406463", "label", "Wikimedia list article"),
    ]
)


def _lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = tbl(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return r.select(
        F.col("r_regionkey").alias("r"),
        "r_name",
        _q(600000, F.col("r_regionkey")).alias("item"),
        F.concat(F.lit("List_of_customers_in_"), F.col("r_name")).alias("article"),
    )


def _opt_triple(cond, subj, pred, obj):
    """One optional (subject, predicate, object) branch of a
    single-pass triple explode: NULL when ``cond`` doesn't hold."""
    s = F.struct(
        subj.alias("subject"), F.lit(pred).alias("predicate"), obj.alias("object")
    )
    return s if cond is None else F.when(cond, s)


def _explode_triples(df: DataFrame, branches: list) -> DataFrame:
    """All of a source frame's triple branches in ONE projection+explode
    (round-12 driver-cost optimization): the fixture previously built
    one filtered select PER BRANCH and unioned 19 of them, which made
    the triples tree ~19 plans deep/wide — every lazy localCheckpoint
    of it (and of everything derived from it) re-planned that whole
    union on the driver, dominating wiki_* build time. One
    explode(filter(array(...), not null)) per source keeps the plan a
    single scan→generate chain with identical output rows."""
    return df.select(
        F.explode(F.filter(F.array(*branches), lambda s: s.isNotNull())).alias("_t")
    ).select("_t.subject", "_t.predicate", "_t.object")


def _fixture(spark: SparkSession, sf_dir: str):
    """Build (triples, wikimapper, categorylinks, pagelinks, qrank,
    domains, scores) — the synthetic wiki universe, all derived from
    the star tables."""
    # One eager checkpoint of the shared per-customer base: every
    # consumer below reuses it, so the consumers read a materialized
    # block instead of re-scanning parquet and re-joining nation.
    cust = _customers(spark, sf_dir).localCheckpoint(eager=True)
    cats = _nation_cats(spark, sf_dir)
    lists = _lists(spark, sf_dir)
    k = F.col("k")
    n = F.col("n")
    lit = F.lit

    leaf = lambda c: _q(500000, c)  # noqa: E731
    root_of_n = _q(400000, n % 2)

    cust_triples = _explode_triples(
        cust,
        [
            # member entities
            _opt_triple(None, F.col("qid"), "label", F.concat(lit("Kunde "), k.cast("string"))),
            _opt_triple(k % 11 != 0, F.col("qid"), "instance_of", leaf(F.col("seg"))),
            _opt_triple(k % 11 == 0, F.col("qid"), "same_as", _q(700000, k)),
            _opt_triple(k % 11 == 0, _q(700000, k), "instance_of", leaf(F.col("eff_seg"))),
            _opt_triple(F.col("about_route"), F.col("title"), "about", F.col("qid")),
        ],
    )
    cats_triples = _explode_triples(
        cats,
        [
            # nation categories: types
            _opt_triple(n == 23, F.col("item"), "category_contains", lit("Q13406463")),
            _opt_triple(n != 23, F.col("item"), "category_contains", root_of_n),
            _opt_triple(n == 22, F.col("item"), "category_contains", lit("Q4167836")),
            _opt_triple(n % 7 == 0, F.col("item"), "category_contains", _q(500000, n % 5)),
            # nation categories: aux description / image / banner
            _opt_triple(n % 5 == 0, F.col("item"), "description", lit("Wikimedia list article")),
            _opt_triple(
                n % 5 == 1, F.col("item"), "description", lit("Wikimedia customer collection")
            ),
            _opt_triple(
                n % 5 == 2,
                F.col("item"),
                "description",
                F.concat(lit("Customers from "), F.col("n_name")),
            ),
            _opt_triple(
                n % 2 == 0, F.col("item"), "image", F.concat(lit("Img%20"), n.cast("string"))
            ),
            _opt_triple(
                n % 3 == 0, F.col("item"), "page_banner", F.concat(lit("Banner_"), n.cast("string"))
            ),
            # merge edge (b): nation r+5's N–Z category → region list r
            _opt_triple(
                (n >= 5) & (n <= 9) & (F.col("v") == 1),
                F.col("item"),
                "list_related_to_category",
                _q(600000, n - 5),
            ),
        ],
    )
    lists_triples = _explode_triples(
        lists,
        [
            # region lists
            _opt_triple(None, F.col("item"), "is_a_list_of", _q(400000, F.col("r") % 2)),
            # merge edge (a): list r names nation r's A–M category
            _opt_triple(
                None, F.col("item"), "category_related_to_list", _q(300000, 2 * F.col("r"))
            ),
            _opt_triple(
                F.col("r") % 2 == 0,
                F.col("item"),
                "description",
                F.concat(lit("Great customers of "), F.col("r_name")),
            ),
        ],
    )
    static = spark.createDataFrame(
        _TYPE_TRIPLES + [(it, "category_contains", tq) for it, _, tq in _SPECIALS],
        "subject string, predicate string, object string",
    )
    all_triples = (
        static.unionByName(cust_triples)
        .unionByName(cats_triples)
        .unionByName(lists_triples)
    )

    wm_schema = [
        F.col("wikipedia_title"),
        F.col("wikipedia_id").cast("bigint").alias("wikipedia_id"),
        F.col("wikidata_id"),
        F.col("redirect"),
        F.col("primary_mapping"),
    ]

    def wm(df, title, page_id, qid, redirect=False, primary=True):
        return df.select(
            title.alias("wikipedia_title"),
            page_id.alias("wikipedia_id"),
            qid.alias("wikidata_id"),
            lit(redirect).alias("redirect"),
            lit(primary).alias("primary_mapping"),
        ).select(*wm_schema)

    wikimapper = (
        wm(
            cust,
            F.col("title"),
            F.col("page_id"),
            F.when(~F.col("about_route") & ~F.col("no_map"), F.col("qid")),
        )
        .unionByName(
            # both per-category mapping rows (primary + v==0 redirect)
            # in ONE pass over cats — same single-pass-explode shape
            # as the triples build above
            cats.select(
                F.explode(
                    F.filter(
                        F.array(
                            F.struct(
                                F.col("article").alias("wikipedia_title"),
                                (30000 + 2 * n + F.col("v"))
                                .cast("bigint")
                                .alias("wikipedia_id"),
                                F.col("item").alias("wikidata_id"),
                                lit(False).alias("redirect"),
                                lit(True).alias("primary_mapping"),
                            ),
                            F.when(
                                F.col("v") == 0,
                                F.struct(
                                    F.concat(
                                        lit("Customers_of_"), F.col("n_name"), lit("_redirect")
                                    ).alias("wikipedia_title"),
                                    (90000 + 2 * n).cast("bigint").alias("wikipedia_id"),
                                    F.col("item").alias("wikidata_id"),
                                    lit(True).alias("redirect"),
                                    lit(False).alias("primary_mapping"),
                                ),
                            ),
                        ),
                        lambda s: s.isNotNull(),
                    )
                ).alias("_m")
            ).select("_m.*")
        )
        .unionByName(
            wm(
                spark.createDataFrame(
                    [(it, art, 39000 + i) for i, (it, art, _) in enumerate(_SPECIALS)],
                    "item string, article string, pid long",
                ),
                F.col("article"),
                F.col("pid"),
                F.col("item"),
            )
        )
        .unionByName(wm(lists, F.col("article"), 60000 + F.col("r"), F.col("item")))
    )

    cat_key = F.concat(
        lit("Customers_of_"),
        F.col("n_name"),
        F.when(k % 2 == 0, lit(",_A–M")).otherwise(lit(",_N–Z")),
    )
    cust_nat = cust.join(
        F.broadcast(tbl(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("n"), "n_name")),
        "n",
    )
    spec_links = [
        (0, 7, "Customers_in_AFRICA"),
        (1, 9, "Wikipedia:Customer_cleanup"),
        (2, 9, "Customers_by_country"),
        (3, 5, "Customers_of_NATION_3"),
    ]

    def _cl(cond, key_col):
        s = F.struct(F.col("page_id").alias("cl_from"), key_col.alias("cl_to"))
        return s if cond is None else F.when(cond, s)

    # nation-category link + the four special links in ONE pass over
    # the customer base (was 5 filtered selects + a 5-way union).
    categorylinks = cust_nat.select(
        F.explode(
            F.filter(
                F.array(
                    _cl(None, cat_key),
                    *[
                        _cl((n == nat) & (k % mod == 0), lit(key))
                        for nat, mod, key in spec_links
                    ],
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("_l")
    ).select("_l.cl_from", "_l.cl_to")

    pagelinks = cust.filter(k % 10 < 3).select(
        (60000 + F.col("r")).alias("pl_from"), F.col("title").alias("pl_title")
    )

    qrank = (
        cust.filter(k % 17 != 0)
        .select(F.col("qid").alias("id"), (1 + (k * 37) % 997).cast("long").alias("rank"))
        .unionByName(
            cats.filter(n % 19 != 0).select(
                F.col("item").alias("id"),
                (40 + 2 * n + F.col("v")).cast("long").alias("rank"),
            )
        )
        .unionByName(
            lists.select(F.col("item").alias("id"), (500 + F.col("r")).cast("long").alias("rank"))
        )
    )

    status = (
        F.when(k % 20 == 3, lit("recently_released"))
        .when(k % 4 == 0, lit("available"))
        .when(k % 4 == 1, lit("taken"))
        .when(k % 4 == 2, lit("on_sale"))
    )
    domains = cust.select(F.col("curated").alias("name"), status.alias("status")).filter(
        F.col("status").isNotNull()
    )
    scores = cust.filter(k % 6 == 0).select(
        F.col("curated").alias("label"),
        (0.25 * ((k % 8) + 1)).cast("double").alias("interesting_score"),
    )
    # triples and wikimapper are many-way unions that feed the
    # pipeline's self-join-heavy stages; without truncation Catalyst's
    # analysis tree explodes combinatorially (driver OOM during
    # analysis, not execution). Truncate their lineage — the same
    # eager-localCheckpoint idiom operators/closure.py uses per
    # iteration. The other five inputs are shallow single-selects over
    # the checkpointed base and stay lazy (each checkpoint is a
    # sequential job barrier; fewer barriers, faster wall-clock).
    triples_ck, wikimapper_ck = run_parallel(
        spark,
        lambda: all_triples.localCheckpoint(eager=False),
        lambda: wikimapper.localCheckpoint(eager=False),
    )
    return (
        triples_ck,
        wikimapper_ck,
        categorylinks,
        pagelinks,
        qrank,
        domains,
        scores,
    )


def _validated(spark: SparkSession, sf_dir: str):
    # NO memo here (optimization round 12). Earlier rounds kept a
    # session-scoped memo of the materialized validated stage keyed by
    # (applicationId, sf_dir), mirroring the reference pipeline's
    # materialized TSV/RocksDB stage boundary — but under the bench
    # contract that is cross-run result caching: runs 2..n of any wiki
    # query were reading run 1's checkpointed RDDs instead of
    # computing from the parquet inputs. Every invocation now derives
    # the stage from scratch; sharing WITHIN one query's plan is still
    # done via the per-invocation persist/checkpoint sites below.
    return _validated_uncached(spark, sf_dir)


def _validated_uncached(spark: SparkSession, sf_dir: str):
    triples, wikimapper, categorylinks, pagelinks, qrank, domains, scores = _fixture(
        spark, sf_dir
    )
    entities = assemble_entities(triples).localCheckpoint(eager=False)
    cats = extract_collections(entities, wikimapper, "category")
    lsts = extract_collections(entities, wikimapper, "list")
    mem_c = link_members(
        categorylinks, None, build_allowlists(cats, wikimapper, "category"), wikimapper, "category"
    )
    mem_l = link_members(
        None, pagelinks, build_allowlists(lsts, wikimapper, "list"), wikimapper, "list"
    )
    grouped = group_members(mem_c, cats, "category").unionByName(
        group_members(mem_l, lsts, "list")
    )
    reachable = subclass_reachability(entities)
    validated = validate_members(grouped, entities, wikimapper, reachable).localCheckpoint(
        eager=False
    )
    return validated, entities, wikimapper, qrank, domains, scores


# ---------------------------------------------------------------------------
# Shared oracle CTE prefix: the same fixture + validation, in DuckDB SQL.
# ---------------------------------------------------------------------------

# DuckDB inlines a CTE into EVERY reference; through this ~40-CTE chain
# the expansion is exponential in depth (the stage-3 oracle ran out of
# file descriptors re-opening the base parquet scans). Forcing the
# named CTEs to materialize keeps the oracle plan linear.
_CTE_NAMES = [
    "cust", "c2", "colls", "coll_types", "coll_types_clean", "colls_kept",
    "membership", "closure", "valid_m", "validated", "type_labels",
    "coll_types_lab", "coll_enr", "coll_f", "mem_enr", "mem_ord", "assign",
    "grp", "unm", "merged_coll", "merged_types", "merged_mem",
    "merged_mem_agg", "unm_mem_agg", "all_info_merged", "c2s", "map2",
    "l1", "l2", "l3", "lm_merged", "c3s", "map3", "d1", "dm", "c4s",
    "map4", "fmap", "mem4", "mstat", "ftypes", "fkw", "ftop",
]


def _mat(sql: str) -> str:
    for n in _CTE_NAMES:
        sql = sql.replace(f"{n} AS (", f"{n} AS MATERIALIZED (")
    return sql


_ORACLE_VALIDATED = """
WITH cust AS (
  SELECT c_custkey AS k, c_nationkey AS n, n_name, n_regionkey AS r,
    CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
      WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3 ELSE 4 END AS seg
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
c2 AS (
  SELECT *,
    'Q' || CAST(100000 + k AS VARCHAR) AS qid,
    CASE WHEN k % 13 = 0 THEN 'Πελάτης ' || k ELSE 'Customer ' || k END AS title,
    CASE WHEN k % 13 = 0 THEN 'kunde' || k ELSE 'customer' || k END AS curated,
    CASE WHEN k % 11 = 0 THEN (seg + 1) % 5 ELSE seg END AS eff_seg,
    (k % 89 = 0) AS no_map
  FROM cust
),
colls AS (
  SELECT 'Q' || CAST(300000 + 2*n_nationkey + v AS VARCHAR) AS item,
         'Category:Customers_of_' || n_name
           || CASE WHEN v = 0 THEN ',_A–M' ELSE ',_N–Z' END AS article,
         'category' AS kind, n_nationkey AS n, NULL AS r, v, n_name
  FROM nation CROSS JOIN (VALUES (0), (1)) AS sides(v)
  UNION ALL
  SELECT s.item, s.article, 'category', NULL, NULL, NULL, NULL
  FROM (VALUES
    ('Q370000', 'Category:Customers_in_AFRICA'),
    ('Q370001', 'Category:Wikipedia:Customer_cleanup'),
    ('Q370002', 'Category:Customers_by_country'),
    ('Q370003', 'Category:Customers_of_NATION_3')) AS s(item, article)
  UNION ALL
  SELECT 'Q' || CAST(600000 + r_regionkey AS VARCHAR),
         'List_of_customers_in_' || r_name, 'list', NULL, r_regionkey, NULL, NULL
  FROM region
),
coll_types AS (
  SELECT item, 'Q13406463' AS tqid FROM colls WHERE n = 23
  UNION ALL
  SELECT item, 'Q' || CAST(400000 + n % 2 AS VARCHAR) FROM colls WHERE n IS NOT NULL AND n <> 23
  UNION ALL
  SELECT item, 'Q4167836' FROM colls WHERE n = 22
  UNION ALL
  SELECT item, 'Q' || CAST(500000 + n % 5 AS VARCHAR) FROM colls WHERE n % 7 = 0
  UNION ALL
  SELECT item, CASE WHEN item = 'Q370003' THEN 'Q400001' ELSE 'Q400000' END
  FROM colls WHERE item LIKE 'Q3700%'
  UNION ALL
  SELECT item, 'Q' || CAST(400000 + r % 2 AS VARCHAR) FROM colls WHERE kind = 'list'
),
coll_types_clean AS (SELECT * FROM coll_types WHERE tqid <> 'Q13406463'),
colls_kept AS (
  SELECT c.* FROM colls c WHERE EXISTS (
    SELECT 1 FROM coll_types_clean t WHERE t.item = c.item)
),
membership AS (
  SELECT c.item, m.k FROM colls c JOIN c2 m ON c.n = m.n AND m.k % 2 = c.v
  UNION ALL
  SELECT 'Q370000', k FROM c2 WHERE n = 0 AND k % 7 = 0
  UNION ALL
  SELECT 'Q370001', k FROM c2 WHERE n = 1 AND k % 9 = 0
  UNION ALL
  SELECT 'Q370002', k FROM c2 WHERE n = 2 AND k % 9 = 0
  UNION ALL
  SELECT 'Q370003', k FROM c2 WHERE n = 3 AND k % 5 = 0
  UNION ALL
  SELECT c.item, m.k FROM colls c JOIN c2 m ON c.kind = 'list' AND c.r = m.r AND m.k % 10 < 3
),
type_edges(src, dst) AS (
  SELECT 'Q' || CAST(500000 + s AS VARCHAR), 'Q' || CAST(450000 + s % 2 AS VARCHAR)
  FROM (VALUES (0),(1),(2),(3),(4)) AS leaves(s)
  UNION ALL
  SELECT 'Q' || CAST(450000 + m AS VARCHAR), 'Q' || CAST(400000 + m AS VARCHAR)
  FROM (VALUES (0),(1)) AS mids(m)
),
closure AS (
  WITH RECURSIVE reach(src, dst) AS (
    SELECT src, dst FROM type_edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN type_edges e ON r.dst = e.src)
  SELECT * FROM reach
),
valid_m AS (
  SELECT ms.item, m.k, m.qid, m.title, m.curated, m.eff_seg
  FROM membership ms JOIN c2 m USING (k)
  WHERE NOT m.no_map AND EXISTS (
    SELECT 1 FROM coll_types_clean t
    WHERE t.item = ms.item
      AND (t.tqid = 'Q' || CAST(500000 + m.eff_seg AS VARCHAR)
           OR t.tqid IN (SELECT dst FROM closure
                         WHERE src = 'Q' || CAST(500000 + m.eff_seg AS VARCHAR))))
),
validated AS (
  SELECT c.item, c.article, c.kind,
    (SELECT array_to_string(list(tqid ORDER BY tqid), ',')
       FROM coll_types_clean t WHERE t.item = c.item) AS type_csv,
    (SELECT list(tqid ORDER BY tqid)
       FROM coll_types_clean t WHERE t.item = c.item) AS type_ids,
    COALESCE(v.valid_count, 0) AS valid_members_count,
    g.total - COALESCE(v.valid_count, 0) AS invalid_members_count,
    COALESCE(v.members_csv, '') AS members_csv
  FROM colls_kept c
  JOIN (SELECT item, COUNT(*) AS total FROM membership GROUP BY item) g USING (item)
  LEFT JOIN (
    SELECT item, COUNT(*) AS valid_count,
      array_to_string(list(qid || ':' || title ORDER BY title), ',') AS members_csv
    FROM valid_m GROUP BY item) v USING (item)
)
"""


# Stage-2 oracle: collection/member enrichment, merge filters, and the
# category→list merge — create_merged.py:383-706 in DuckDB CTEs.
_ORACLE_ALL_INFO = _ORACLE_VALIDATED + """
, type_labels(tq, tlabel) AS (
  SELECT 'Q' || CAST(500000 + s AS VARCHAR), 'Segment ' || s
  FROM (VALUES (0),(1),(2),(3),(4)) AS ls(s)
  UNION ALL
  SELECT 'Q' || CAST(450000 + m AS VARCHAR), 'Mid ' || m FROM (VALUES (0),(1)) AS ms(m)
  UNION ALL
  SELECT 'Q' || CAST(400000 + m AS VARCHAR), 'Root ' || m FROM (VALUES (0),(1)) AS rs(m)
  UNION ALL SELECT 'Q4167836', 'Wikimedia category'
  UNION ALL SELECT 'Q13406463', 'Wikimedia list article'
),
coll_types_lab AS (
  SELECT t.item, t.tqid, l.tlabel
  FROM coll_types_clean t JOIN type_labels l ON l.tq = t.tqid
),
coll_enr AS (
  -- collection-level enrichment (curate_name, description transform,
  -- url-decoded image/banner, redirect keyword, qrank)
  SELECT c.item, c.kind, c.article, c.n, c.r, c.v, c.n_name,
    upper(substr(nm, 1, 1)) || substr(nm, 2) AS name,
    CASE WHEN c.n % 5 = 1 THEN 'customer collection'
         WHEN c.n % 5 = 2 THEN 'Customers from ' || c.n_name
         WHEN c.kind = 'list' AND c.r % 2 = 0
           THEN 'Great customers of ' || (SELECT r_name FROM region WHERE r_regionkey = c.r)
    END AS description,
    CASE WHEN c.kind = 'category' AND c.n % 2 = 0 THEN 'Img ' || c.n END AS img1,
    CASE WHEN c.kind = 'category' AND c.n % 3 = 0 THEN 'Banner_' || c.n END AS banner1,
    CASE WHEN c.v = 0
         THEN 'Customers of ' || replace(c.n_name, '_', ' ') || ' redirect' END AS kw1,
    CAST(CASE WHEN c.kind = 'list' THEN 500 + c.r
              WHEN c.n IS NOT NULL AND c.n % 19 <> 0 THEN 40 + 2*c.n + c.v
              ELSE 0 END AS BIGINT) AS crank,
    CAST(substr(c.item, 2) AS BIGINT) AS qid_num,
    v2.valid_members_count, v2.invalid_members_count
  FROM (SELECT *, regexp_replace(regexp_replace(replace(article, '_', ' '),
          '^List of ', ''), '^Category:', '') AS nm FROM colls_kept) c
  JOIN validated v2 USING (item)
),
coll_f AS (
  -- F8 type blocklist + F9 name regexes + F10 ' by <lower>'
  SELECT * FROM coll_enr c
  WHERE NOT EXISTS (SELECT 1 FROM coll_types_clean t WHERE t.item = c.item AND t.tqid IN
      ('Q11266439','Q4663261','Q13406463','Q11753321','Q20769160','Q30432511',
       'Q4167836','Q33532284'))
    AND NOT regexp_matches(c.name,
      '^(Wikipedia:.*|Highways numbered .*|Lists (of|that) .*|Incomplete lists? from .*)')
    AND NOT regexp_matches(regexp_extract(c.name, ' by ([^ ]*)', 1), '^[a-z]')
),
mem_enr AS (
  -- member enrichment: curation (title or label fallback), score,
  -- qrank, domain status
  SELECT v.item, v.k, v.curated,
    row_number() OVER (PARTITION BY v.item ORDER BY v.title) - 1 AS pos,
    CASE WHEN v.k % 6 = 0 THEN 0.25e0 * ((v.k % 8) + 1) ELSE 0.0e0 END AS iscore,
    CAST(CASE WHEN v.k % 17 <> 0 THEN 1 + (v.k * 37) % 997 ELSE 0 END AS BIGINT) AS mrank,
    CASE WHEN v.k % 20 = 3 THEN 'recently_released'
         WHEN v.k % 4 = 0 THEN 'available'
         WHEN v.k % 4 = 1 THEN 'taken'
         WHEN v.k % 4 = 2 THEN 'on_sale' END AS status
  FROM valid_m v
),
mem_ord AS (
  SELECT *,
    row_number() OVER (PARTITION BY item
      ORDER BY log2(mrank + 1) / greatest(length(curated), 10) DESC, pos) - 1 AS enr_pos
  FROM mem_enr
),
assign AS (
  SELECT cat_item, target_list FROM (
    SELECT cat_item, target_list,
      row_number() OVER (PARTITION BY cat_item
                         ORDER BY priority, edge_pos, target_list) AS rn
    FROM (
      SELECT 'Q' || CAST(300000 + 2*l.r AS VARCHAR) AS cat_item, l.item AS target_list,
             0 AS priority, 0 AS edge_pos
      FROM coll_f l WHERE l.kind = 'list'
      UNION ALL
      SELECT c.item, 'Q' || CAST(600000 + c.n - 5 AS VARCHAR), 1, 0
      FROM coll_f c
      WHERE c.kind = 'category' AND c.n BETWEEN 5 AND 9 AND c.v = 1
        AND EXISTS (SELECT 1 FROM coll_f l
                    WHERE l.item = 'Q' || CAST(600000 + c.n - 5 AS VARCHAR))
      UNION ALL
      SELECT c.item, l.item, 2, 0
      FROM coll_f c JOIN coll_f l
        ON c.kind = 'category' AND l.kind = 'list' AND c.name = l.name
    ) AS cands
  ) AS ranked WHERE rn = 1
),
grp AS (
  SELECT l.item AS target_list, 0 AS src_order, l.*
  FROM coll_f l WHERE l.kind = 'list'
  UNION ALL
  SELECT a.target_list, 1, c.* FROM coll_f c JOIN assign a ON c.item = a.cat_item
),
unm AS (
  SELECT c.* FROM coll_f c
  WHERE c.kind = 'category'
    AND NOT EXISTS (SELECT 1 FROM assign a WHERE a.cat_item = c.item)
),
merged_coll AS (
  SELECT target_list,
    'Q' || CAST(MIN(qid_num) AS VARCHAR) AS item,
    MIN(CASE WHEN src_order = 0 THEN name END) AS name,
    MIN(CASE WHEN src_order = 0 THEN kind END) AS kind,
    min_by(description, src_order*10000000 + qid_num)
      FILTER (WHERE description IS NOT NULL) AS description,
    min_by(img1, src_order*10000000 + qid_num) FILTER (WHERE img1 IS NOT NULL) AS img1,
    min_by(banner1, src_order*10000000 + qid_num)
      FILTER (WHERE banner1 IS NOT NULL) AS banner1,
    MAX(crank) AS rnk,
    CAST(SUM(valid_members_count) AS BIGINT) AS valid_members_count,
    CAST(SUM(invalid_members_count) AS BIGINT) AS invalid_members_count,
    COALESCE(array_to_string(list(DISTINCT kw1 ORDER BY kw1)
      FILTER (WHERE kw1 IS NOT NULL), ','), '') AS keywords_csv
  FROM grp GROUP BY target_list
),
merged_types AS (
  SELECT g.target_list,
    array_to_string(list(DISTINCT t.tqid || ':' || t.tlabel
      ORDER BY t.tqid || ':' || t.tlabel), ',') AS types_csv
  FROM grp g JOIN coll_types_lab t ON t.item = g.item
  GROUP BY g.target_list
),
merged_mem AS (
  SELECT g.target_list, m.curated, m.mrank, m.iscore, m.status, g.src_order, m.enr_pos,
    row_number() OVER (PARTITION BY g.target_list, m.curated
                       ORDER BY m.mrank DESC, g.src_order, m.enr_pos) AS dd
  FROM grp g JOIN mem_ord m ON m.item = g.item
),
merged_mem_agg AS (
  SELECT target_list,
    COUNT(*) AS n_members,
    floor(SUM(iscore) * 1000000 + 0.5) / 1000000.0 AS score_sum,
    array_to_string(list_slice(
      list(curated || '@' || mrank || '@' || coalesce(status, '-')
           ORDER BY mrank DESC, src_order, enr_pos, curated), 1, 15), '|') AS members_csv
  FROM merged_mem WHERE dd = 1 GROUP BY target_list
),
unm_mem_agg AS (
  SELECT item,
    COUNT(*) AS n_members,
    floor(SUM(iscore) * 1000000 + 0.5) / 1000000.0 AS score_sum,
    array_to_string(list_slice(
      list(curated || '@' || mrank || '@' || coalesce(status, '-')
           ORDER BY enr_pos), 1, 15), '|') AS members_csv
  FROM mem_ord GROUP BY item
),
all_info_merged AS (
  SELECT m.item, m.name, m.kind, TRUE AS is_merged, m.rnk AS "rank",
    m.valid_members_count, m.invalid_members_count, mt.types_csv, m.keywords_csv,
    m.description, m.img1 AS image1, m.banner1,
    COALESCE(a.n_members, 0) AS n_members, COALESCE(a.members_csv, '') AS members_csv,
    COALESCE(a.score_sum, 0.0e0) AS score_sum
  FROM merged_coll m
  JOIN merged_types mt USING (target_list)
  LEFT JOIN merged_mem_agg a USING (target_list)
  UNION ALL
  SELECT u.item, u.name, u.kind, FALSE, u.crank,
    CAST(u.valid_members_count AS BIGINT), CAST(u.invalid_members_count AS BIGINT),
    (SELECT array_to_string(list(t.tqid || ':' || t.tlabel
       ORDER BY t.tqid || ':' || t.tlabel), ',')
     FROM coll_types_lab t WHERE t.item = u.item),
    COALESCE(u.kw1, ''), u.description, u.img1, u.banner1,
    COALESCE(a.n_members, 0), COALESCE(a.members_csv, ''), COALESCE(a.score_sum, 0.0e0)
  FROM unm u LEFT JOIN unm_mem_agg a ON a.item = u.item
)
"""


def _all_info_merged(spark: SparkSession, sf_dir: str):
    from namegraph_collections_spark.plans.enrich_merge import (
        enrich_all_info,
        merge_lists_and_categories,
    )

    validated, entities, wikimapper, qrank, domains, scores = _validated(spark, sf_dir)
    all_info = enrich_all_info(validated, entities, wikimapper, qrank, domains, scores)
    return merge_lists_and_categories(all_info, entities), entities


def _merged_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-invocation materialization of the enrich+merge stage for the
    # document factory's multi-consumer reads — no session memo (see
    # _validated: a memo here was cross-run result caching under the
    # bench contract).
    return _all_info_merged(spark, sf_dir)[0].localCheckpoint(eager=True)


@register(
    "wiki_all_info",
    oracle=_mat(_ORACLE_ALL_INFO + "SELECT * FROM all_info_merged"),
)
def wiki_all_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline slice stage 2: validated collections → enriched
    all-info + merge filters + category→list merge
    (create_merged.py:383-706, the real plans/enrich_merge.py path)."""
    merged, _ = _all_info_merged(spark, sf_dir)
    mem = F.col("members")
    return merged.select(
        "item",
        "name",
        "kind",
        "is_merged",
        "rank",
        F.col("valid_members_count").cast("long").alias("valid_members_count"),
        F.col("invalid_members_count").cast("long").alias("invalid_members_count"),
        F.array_join(
            F.transform(
                "types",
                lambda t: F.concat(t["qid"], F.lit(":"), F.coalesce(t["label"], F.lit("-"))),
            ),
            ",",
        ).alias("types_csv"),
        F.array_join("keywords", ",").alias("keywords_csv"),
        "description",
        F.try_element_at("images", F.lit(1)).alias("image1"),
        F.try_element_at("page_banners", F.lit(1)).alias("banner1"),
        F.size("members").cast("long").alias("n_members"),
        F.array_join(
            F.transform(
                F.slice(mem, 1, 15),
                lambda m: F.concat(
                    m["curated"],
                    F.lit("@"),
                    m["rank"].cast("string"),
                    F.lit("@"),
                    F.coalesce(m["status"], F.lit("-")),
                ),
            ),
            "|",
        ).alias("members_csv"),
        round6_det(
            F.aggregate(
                F.transform(mem, lambda m: m["interesting_score"]),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("score_sum"),
    )


def _oracle_docs() -> str:
    """Stage-3 oracle: letter-range merge, exact-name dedup, and the
    document factory (create_merged.py:717-804, 992-1017, 859-989).

    The regex constants are injected from plans/letter_merge.py so both
    engines run byte-identical patterns. M3B is omitted: it needs a
    lookbehind (Java regex) that RE2/DuckDB rejects, and no fixture
    name can contain its '[Ll]isted ' trigger. Scalar merge fields
    (description/image/banner: first-non-null by qid order; rank: max;
    counts: sums) are composed level by level; member sets and
    type/keyword unions are associative, so they aggregate once
    through the original→final collection mapping (fmap).
    """
    from namegraph_collections_spark.plans.letter_merge import (
        ALPHABET_RANGE_PATTERN,
        M1_PATTERN,
        M2_PATTERN,
        M3A_PATTERN,
    )

    m1, m2, m3a, alpha = M1_PATTERN, M2_PATTERN, M3A_PATTERN, ALPHABET_RANGE_PATTERN
    return (
        _ORACLE_ALL_INFO
        + f"""
, c2s AS (
  SELECT item, name, kind, TRUE AS is_merged, rnk AS rank,
         valid_members_count AS vc, invalid_members_count AS ic,
         description, img1, banner1, CAST(substr(item, 2) AS BIGINT) AS qid_num
  FROM merged_coll
  UNION ALL
  SELECT item, name, kind, FALSE, crank, CAST(valid_members_count AS BIGINT),
         CAST(invalid_members_count AS BIGINT), description, img1, banner1, qid_num
  FROM unm
),
map2 AS (
  SELECT g.item AS o, m.item AS t FROM grp g JOIN merged_coll m USING (target_list)
  UNION ALL SELECT item, item FROM unm
),
l1 AS (
  SELECT c.*,
    regexp_matches(name, '{m1}') AS f1,
    regexp_matches(name, '{m2}') AS f2,
    regexp_matches(name, '{m3a}') AS f3a
  FROM c2s c
),
l2 AS (
  SELECT *,
    (f1 OR f2 OR f3a) AS matched, (f2 OR f3a) AS m23,
    CASE WHEN f1 THEN trim(regexp_extract(name, '{m1}', 1))
         WHEN f2 THEN trim(regexp_extract(name, '{m2}', 1))
         WHEN f3a THEN trim(regexp_extract(name, '{m3a}', 2)) END AS rawnorm,
    CASE WHEN f1 THEN regexp_extract(name, '{m1}', 2)
         WHEN f2 THEN regexp_extract(name, '{m2}', 2)
         WHEN f3a THEN regexp_extract(name, '{m3a}', 1) END AS stripped
  FROM l1
),
l3 AS (
  SELECT *,
    upper(substr(rawnorm, 1, 1)) || substr(rawnorm, 2) AS normalized,
    COUNT(*) OVER (PARTITION BY upper(substr(rawnorm, 1, 1)) || substr(rawnorm, 2))
      AS n_in_group,
    bool_or(m23) OVER (PARTITION BY upper(substr(rawnorm, 1, 1)) || substr(rawnorm, 2))
      AS any23,
    first_value(stripped) OVER (
      PARTITION BY upper(substr(rawnorm, 1, 1)) || substr(rawnorm, 2)
      ORDER BY qid_num) AS fs
  FROM l2 WHERE matched
),
lm_merged AS (
  SELECT 'Q' || CAST(MIN(qid_num) AS VARCHAR) AS item, normalized AS name,
    min_by(kind, qid_num) AS kind, TRUE AS is_merged, MAX(rank) AS rank,
    CAST(SUM(vc) AS BIGINT) AS vc, CAST(SUM(ic) AS BIGINT) AS ic,
    min_by(description, qid_num) FILTER (WHERE description IS NOT NULL) AS description,
    min_by(img1, qid_num) FILTER (WHERE img1 IS NOT NULL) AS img1,
    min_by(banner1, qid_num) FILTER (WHERE banner1 IS NOT NULL) AS banner1,
    MIN(qid_num) AS qid_num
  FROM l3 WHERE n_in_group > 1 GROUP BY normalized
),
c3s AS (
  SELECT item, name, kind, is_merged, rank, vc, ic, description, img1, banner1, qid_num
  FROM l2 WHERE NOT matched
  UNION ALL
  SELECT item,
    CASE WHEN any23 OR regexp_matches(fs, '{alpha}') THEN normalized ELSE name END,
    kind, is_merged, rank, vc, ic, description, img1, banner1, qid_num
  FROM l3 WHERE n_in_group = 1
  UNION ALL SELECT * FROM lm_merged
),
map3 AS (
  SELECT item AS o, item AS t FROM l2 WHERE NOT matched
  UNION ALL SELECT item, item FROM l3 WHERE n_in_group = 1
  UNION ALL
  SELECT l.item, g.item
  FROM (SELECT item, normalized FROM l3 WHERE n_in_group > 1) l
  JOIN lm_merged g ON l.normalized = g.name
),
d1 AS (SELECT *, COUNT(*) OVER (PARTITION BY name) AS nn FROM c3s),
dm AS (
  SELECT 'Q' || CAST(MIN(qid_num) AS VARCHAR) AS item, name,
    min_by(kind, qid_num) AS kind, TRUE AS is_merged, MAX(rank) AS rank,
    CAST(SUM(vc) AS BIGINT) AS vc, CAST(SUM(ic) AS BIGINT) AS ic,
    min_by(description, qid_num) FILTER (WHERE description IS NOT NULL) AS description,
    min_by(img1, qid_num) FILTER (WHERE img1 IS NOT NULL) AS img1,
    min_by(banner1, qid_num) FILTER (WHERE banner1 IS NOT NULL) AS banner1,
    MIN(qid_num) AS qid_num
  FROM d1 WHERE nn > 1 GROUP BY name
),
c4s AS (
  SELECT item, name, kind, is_merged, rank, vc, ic, description, img1, banner1, qid_num
  FROM d1 WHERE nn = 1
  UNION ALL SELECT * FROM dm
),
map4 AS (
  SELECT item AS o, item AS t FROM d1 WHERE nn = 1
  UNION ALL
  SELECT d.item, m.item FROM (SELECT item, name FROM d1 WHERE nn > 1) d
  JOIN dm m USING (name)
),
fmap AS (
  SELECT m2_.o AS o, m4.t AS t
  FROM map2 m2_ JOIN map3 m3 ON m2_.t = m3.o JOIN map4 m4 ON m3.t = m4.o
),
mem4 AS (
  SELECT f.t AS item, m.curated, m.mrank, m.iscore, m.status
  FROM mem_enr m JOIN fmap f ON m.item = f.o
  GROUP BY f.t, m.curated, m.mrank, m.iscore, m.status
),
uni(token, lp) AS (
  VALUES ('customers', -1.5e0), ('of', -0.5e0), ('in', -0.75e0),
         ('nation', -2.25e0), ('region', -2.5e0)
),
mstat AS (
  SELECT item, COUNT(*) AS cnt,
    SUM(CAST(mrank AS DOUBLE)) AS rank_sum,
    SUM(iscore) AS score_sum,
    median(CAST(mrank AS DOUBLE)) AS rank_med,
    median(iscore) AS score_med,
    COUNT(*) FILTER (WHERE status = 'available') AS av,
    COUNT(*) FILTER (WHERE status = 'taken') AS tk,
    COUNT(*) FILTER (WHERE status = 'on_sale') AS osl,
    COUNT(*) FILTER (WHERE status = 'recently_released') AS rr,
    COUNT(*) FILTER (WHERE status IS NULL) AS nvr
  FROM mem4 GROUP BY item
),
ftypes AS (
  SELECT f.t AS item,
    array_to_string(list(DISTINCT t.tqid || ':' || t.tlabel
      ORDER BY t.tqid || ':' || t.tlabel), ',') AS types_csv
  FROM coll_f c JOIN fmap f ON c.item = f.o
  JOIN coll_types_lab t ON t.item = c.item
  GROUP BY f.t
),
fkw AS (
  SELECT f.t AS item,
    array_to_string(list(DISTINCT c.kw1 ORDER BY c.kw1), ',') AS keywords_csv
  FROM coll_f c JOIN fmap f ON c.item = f.o
  WHERE c.kw1 IS NOT NULL GROUP BY f.t
),
ftop AS (
  SELECT item,
    array_to_string(list_slice(list(curated
      ORDER BY log2(mrank + 1) / greatest(length(curated), 10) DESC, curated),
      1, 10), ',') AS top10_csv
  FROM mem4 GROUP BY item
)
SELECT c.item AS id, c.name AS collection_name,
  COALESCE(s.cnt, 0) AS members_count,
  greatest(c.rank, 1) AS collection_rank,
  c.vc AS valid_members_count, c.ic AS invalid_members_count,
  floor((CASE WHEN c.vc + c.ic > 0 THEN c.vc / (c.vc + c.ic) ELSE 0.0e0 END)
        * 1000000 + 0.5) / 1000000.0
    AS valid_members_ratio,
  CAST(COALESCE(s.tk, 0) + COALESCE(s.osl, 0) + COALESCE(s.rr, 0) AS BIGINT)
    AS nonavailable_members_count,
  floor((CASE WHEN COALESCE(s.cnt, 0) > 0
    THEN greatest((s.tk + s.osl + s.rr) / s.cnt, 1e-8) ELSE 1e-8 END)
        * 1000000 + 0.5) / 1000000.0
    AS nonavailable_members_ratio,
  CAST(COALESCE(s.av, 0) AS BIGINT) AS available_count,
  CAST(COALESCE(s.tk, 0) AS BIGINT) AS taken_count,
  CAST(COALESCE(s.osl, 0) AS BIGINT) AS on_sale_count,
  CAST(COALESCE(s.rr, 0) AS BIGINT) AS recently_released_count,
  CAST(COALESCE(s.nvr, 0) AS BIGINT) AS never_registered_count,
  floor((CASE WHEN COALESCE(s.cnt, 0) > 0
    THEN greatest(s.rank_sum / s.cnt, 1e-8) ELSE 1e-8 END)
        * 1000000 + 0.5) / 1000000.0 AS members_rank_mean,
  floor(greatest(COALESCE(s.rank_med, 0.0e0), 1e-8)
        * 1000000 + 0.5) / 1000000.0 AS members_rank_median,
  floor((CASE WHEN COALESCE(s.cnt, 0) > 0
    THEN greatest(s.score_sum / s.cnt, 1e-8) ELSE 1e-8 END)
        * 1000000 + 0.5) / 1000000.0 AS members_score_mean,
  floor(greatest(COALESCE(s.score_med, 0.0e0), 1e-8)
        * 1000000 + 0.5) / 1000000.0 AS members_score_median,
  floor((SELECT SUM(COALESCE(u.lp, -2.5e0))
         FROM unnest(string_split(lower(c.name), ' ')) AS toks(tok)
         LEFT JOIN uni u ON u.token = toks.tok)
        * 1000000 + 0.5) / 1000000.0 AS name_log_probability,
  c.is_merged,
  COALESCE(p.top10_csv, '') AS top10_csv,
  ft.types_csv,
  COALESCE(kw.keywords_csv, '') AS keywords_csv
FROM c4s c
LEFT JOIN mstat s ON s.item = c.item
LEFT JOIN ftop p ON p.item = c.item
JOIN ftypes ft ON ft.item = c.item
LEFT JOIN fkw kw ON kw.item = c.item
"""
    )


@register("wiki_documents", oracle=_mat(_oracle_docs()))
def wiki_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline slice stage 3, the flagship parity row: the FULL chain
    dumps → letter-range merge → exact-name dedup → 5-namespace
    document (create_merged.py:717-804, 992-1017, 859-989), flattened
    to scalars for the value hash. The OOV unigram floor (-2.5) is the
    table's min log_prob, mirroring doc_factory's broadcast min."""
    from namegraph_collections_spark.plans.doc_factory import build_documents
    from namegraph_collections_spark.plans.letter_merge import (
        letter_range_normalize,
        remove_duplicate_names,
    )

    # Same analysis-tree truncation as _fixture: each merge stage
    # multiplies the logical plan; checkpoint between stages keeps
    # Catalyst's analysis linear in pipeline depth.
    merged = _merged_checkpointed(spark, sf_dir)
    coll = remove_duplicate_names(letter_range_normalize(merged)).localCheckpoint(eager=True)
    uni = spark.createDataFrame(
        [("customers", -1.5), ("of", -0.5), ("in", -0.75), ("nation", -2.25), ("region", -2.5)],
        "token string, log_prob double",
    )
    docs = build_documents(coll, unigram_probs=uni, current_time_ms=0.0)
    c = F.col
    return docs.select(
        c("metadata.id").alias("id"),
        c("data.collection_name").alias("collection_name"),
        c("metadata.members_count").cast("long").alias("members_count"),
        c("template.collection_rank").alias("collection_rank"),
        c("template.valid_members_count").cast("long").alias("valid_members_count"),
        c("template.invalid_members_count").cast("long").alias("invalid_members_count"),
        round6_det(c("template.valid_members_ratio")).alias("valid_members_ratio"),
        c("template.nonavailable_members_count").cast("long").alias("nonavailable_members_count"),
        round6_det(c("template.nonavailable_members_ratio")).alias("nonavailable_members_ratio"),
        c("template.available_count").cast("long").alias("available_count"),
        c("template.taken_count").cast("long").alias("taken_count"),
        c("template.on_sale_count").cast("long").alias("on_sale_count"),
        c("template.recently_released_count").cast("long").alias("recently_released_count"),
        c("template.never_registered_count").cast("long").alias("never_registered_count"),
        round6_det(c("template.members_rank_mean")).alias("members_rank_mean"),
        round6_det(c("template.members_rank_median")).alias("members_rank_median"),
        round6_det(c("template.members_system_interesting_score_mean")).alias("members_score_mean"),
        round6_det(c("template.members_system_interesting_score_median")).alias(
            "members_score_median"
        ),
        c("metadata.collection_name_log_probability").alias("name_log_probability"),
        c("template.is_merged").alias("is_merged"),
        F.array_join(
            F.transform("template.top10_names", lambda t: t["normalized_name"]), ","
        ).alias("top10_csv"),
        F.array_join(
            F.transform(
                "template.collection_types",
                lambda t: F.concat(t["qid"], F.lit(":"), F.coalesce(t["label"], F.lit("-"))),
            ),
            ",",
        ).alias("types_csv"),
        F.array_join("data.collection_keywords", ",").alias("keywords_csv"),
    )


@register(
    "wiki_validate_members",
    oracle=_mat(
        _ORACLE_VALIDATED
        + """
    SELECT item, article, kind, type_csv, valid_members_count,
           invalid_members_count, members_csv
    FROM validated
    """
    ),
)
def wiki_validate_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline slice stage 1: dumps → extracted/linked/type-validated
    collections (create_collections.py:41-702 semantics, the real
    plans/collections_core.py code path end to end)."""
    validated, *_ = _validated(spark, sf_dir)
    return validated.select(
        "item",
        "article",
        "kind",
        F.array_join("type", ",").alias("type_csv"),
        "valid_members_count",
        "invalid_members_count",
        F.array_join(
            F.transform("members", lambda m: F.concat(m["qid"], F.lit(":"), m["title"])), ","
        ).alias("members_csv"),
    )

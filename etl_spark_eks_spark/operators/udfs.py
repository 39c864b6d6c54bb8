"""UDF / UDAF / UDTF surface (SURVEY §2 B51-B55, B63).

The performance ladder, worst to best, all demonstrated:
row-at-a-time Python UDF (B51 — correctness reference only; never the
hot path) -> Arrow-vectorized pandas UDF (B52, ~10-100x faster) ->
grouped-map applyInPandas (B53) and grouped-agg pandas UDF (B54) for
per-group semantics the built-ins can't express. B55 shows the UDTF
shape (one row -> N rows) via an array-returning UDF + explode.

Each query bounds its input (filter on a key prefix) so oracle
comparison stays test-sized; the operators themselves are unbounded.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from etl_spark_eks_spark.catalog import load_table, register_views
from etl_spark_eks_spark.registry import query


@query(
    "q_b51_python_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem WHERE l_orderkey < 2000
    """,
)
def q_b51_python_udf(spark, sf_dir):
    """B51: scalar row-at-a-time Python UDF (IEEE-identical arithmetic to
    the SQL oracle; Python floats ARE C doubles)."""

    # No type hints on purpose: with hints present Spark 4 tries to
    # infer an Arrow eval type and warns "Cannot infer the eval type"
    # — this operator demonstrates the CLASSIC pickled row-at-a-time
    # path (the Arrow path is B52), so the hint-free form is both
    # quiet and honest.
    @F.udf(returnType=DoubleType())
    def net_price(price, discount):
        return price * (1.0 - discount)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "q_b52_pandas_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem WHERE l_orderkey < 2000
    """,
)
def q_b52_pandas_udf(spark, sf_dir):
    """B52: Arrow-vectorized pandas UDF (Series->Series) — the fast Python
    path: columnar Arrow batches, numpy elementwise kernels."""

    @F.pandas_udf(DoubleType())
    def charged(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1.0 - discount) * (1.0 + tax)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charged("l_extendedprice", "l_discount", "l_tax").alias("charged"),
    )


@query(
    "q_b53_grouped_map",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           ROUND((l_quantity - AVG(l_quantity) OVER w)
                 / STDDEV_SAMP(l_quantity) OVER w, 6) AS qty_z
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
)
def q_b53_grouped_map(spark, sf_dir):
    """B53: grouped-map applyInPandas — per-group normalization (z-score
    within each returnflag). One shuffle on the group key; each group
    processed as a single pandas frame (groups must fit an executor —
    for skewed 100 TB groups, pre-salt or use window functions instead,
    which is exactly what the oracle does)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        pdf = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
        pdf["qty_z"] = ((q - q.mean()) / q.std(ddof=1)).round(6)
        return pdf

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        zscore,
        schema="l_orderkey long, l_linenumber int, l_returnflag string, qty_z double",
    )


@query(
    "q_b54_grouped_agg_udaf",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
             AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_b54_grouped_agg_udaf(spark, sf_dir):
    """B54: UDAF via grouped-agg pandas UDF — quantity-weighted mean
    price per returnflag. (ROUND to 4: the two engines sum in different
    orders; 1e-16 relative noise on ~1e9 sums sits below 5e-5.)"""

    @F.pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 4).alias("weighted_avg_price")
    )


@query(
    "q_b55_udtf_explode",
    oracle="""
    SELECT p_partkey, CAST(unnest(range(p_size % 5 + 1)) AS INTEGER) AS slot
    FROM part WHERE p_partkey < 500
    """,
)
def q_b55_udtf_explode(spark, sf_dir):
    """B55: UDTF shape — a UDF builds an array per row, explode emits one
    output row per element (table-generating semantics)."""

    @F.udf(returnType=ArrayType(IntegerType()))
    def slots(size: int) -> list[int]:
        return list(range(size % 5 + 1))

    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey", F.explode(slots("p_size")).alias("slot")
    )


@query(
    "q_b63_salted_grouped_map",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
             AS weighted_avg_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_b63_salted_grouped_map(spark, sf_dir):
    """B63: the skew-safe form of B53/B54's grouped pandas work — salted
    two-stage aggregation.

    B53's documented hazard: applyInPandas materializes each GROUP as
    one pandas frame on one executor, so a skewed key (3 returnflags
    over 100 TB of lineitem) is an OOM by construction. When the
    per-group computation decomposes into mergeable partials (here:
    weighted mean = sum(p*q) and sum(q)), the fix is to salt the key —
    groupBy(key, salt) runs the pandas stage on key-fraction-sized
    groups spread across the cluster (16x finer, tunable), and a plain
    Catalyst agg combines the tiny per-salt partials. No single pandas
    frame ever holds a full key's rows; the big shuffle is on
    (key, salt). The final ratio rounds to 4 decimals (partial-sum
    order differs from the oracle's; ~1e-14 noise on a ~1e2 ratio).
    """
    _N_SALT = 16

    def partial_wsum(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "sum_pq": [float((pdf["l_extendedprice"] * pdf["l_quantity"]).sum())],
                "sum_q": [float(pdf["l_quantity"].sum())],
                "n_rows": [len(pdf)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        F.pmod(F.col("l_orderkey"), F.lit(_N_SALT)).alias("salt"),
    )
    partials = li.groupBy("l_returnflag", "salt").applyInPandas(
        partial_wsum,
        schema="l_returnflag string, sum_pq double, sum_q double, n_rows long",
    )
    return partials.groupBy("l_returnflag").agg(
        F.round(F.sum("sum_pq") / F.sum("sum_q"), 4).alias("weighted_avg_price"),
        F.sum("n_rows").alias("n_rows"),
    )


@query(
    "q_b73_python_udtf",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS t
      FROM documents WHERE doc_id < 20)
    SELECT d.doc_id,
           CAST(r.i - 1 AS INTEGER) AS pos,
           d.t[CAST(r.i AS INTEGER)] AS token
    FROM d, unnest(range(1, len(d.t) + 1)) AS r(i)
    """,
)
def q_b73_python_udtf(spark, sf_dir):
    """B73: a REAL Python UDTF — Spark 4's class-based ``@udtf`` table
    function (eval yields N output rows per input row), invoked via
    LATERAL join in SQL. B55 emulates the one-row->N-rows shape with an
    array UDF + explode; this is the declared API for it, needed when
    the expansion logic is imperative Python (parsers, tokenizers,
    format sniffers) rather than an array expression. Arrow-optimized
    (``useArrow``): rows cross the Python boundary in Arrow batches,
    not pickled one at a time.

    Scale: UDTFs run per-partition like any generator — no shuffle; the
    fan-out pipelines into the scan exactly like explode. The Python
    boundary cost is the same class as B51/B52's, paid per row crossed,
    which is why the array-expression form (B55) stays preferred when
    the logic fits Catalyst expressions.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string", useArrow=True)
    class PosTokens:
        def eval(self, text: str):
            if text:
                for i, tok in enumerate(text.split()):
                    yield i, tok

    spark.udtf.register("pos_tokens", PosTokens)
    from etl_spark_eks_spark.catalog import load_table as _lt

    _lt(spark, sf_dir, "documents").createOrReplaceTempView("b73_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM b73_docs d, LATERAL pos_tokens(d.text) t
        WHERE d.doc_id < 20
        """
    )


@query(
    "q_b99_map_in_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def q_b99_map_in_arrow(spark, sf_dir):
    """B99: mapInArrow — the lowest-overhead Python batch surface:
    the UDF receives raw ``pyarrow.RecordBatch``es, no pandas
    conversion at all. One rung below B52/B53 (pandas UDFs pay
    Arrow->pandas->Arrow on every batch: index allocation, dtype
    coercion, NaN/None remapping); at 100 TB of narrow numeric
    batches that conversion IS the Python-path overhead, and
    arrow-native compute (`pyarrow.compute` kernels, vectorized C++)
    removes it. The trade: no pandas ergonomics — columnar kernels
    only, which this per-row arithmetic fits exactly.

    The filter stays OUTSIDE in the plan (pushed to parquet); the
    Arrow stage only transforms, so the scan prunes and the Python
    worker sees survivors only."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def disc_price(batches):
        for batch in batches:
            price = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("l_orderkey"),
                    batch.column("l_linenumber"),
                    price,
                ],
                ["l_orderkey", "l_linenumber", "disc_price"],
            )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    )
    # Arrow is strict: the yielded batch types must match the declared
    # schema EXACTLY (l_linenumber is int32 on disk; declaring it long
    # here fails at the accessor, not at analysis).
    return li.mapInArrow(
        disc_price, "l_orderkey long, l_linenumber int, disc_price double"
    )


@query(
    "q_b100_cogrouped_map",
    oracle="""
    WITH e AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value * 1000000 AS DECIMAL(38,0))) AS BIGINT)
               AS value_micros
      FROM events GROUP BY user_id
    ), o AS (
      SELECT o_custkey AS user_id, COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.value_micros, 0) AS value_micros,
           COALESCE(o.n_orders, 0) AS n_orders,
           (e.user_id IS NOT NULL AND o.user_id IS NOT NULL) AS in_both
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
)
def q_b100_cogrouped_map(spark, sf_dir):
    """B100: co-grouped map — ``groupBy().cogroup().applyInPandas``,
    the two-table sibling of B53's grouped map: BOTH sides shuffle
    once on the key and the UDF receives the key's rows from EACH
    side as separate pandas frames, including empty frames when a key
    exists on only one side (the branch a naive join-then-groupBy
    reformulation silently loses — here it is exercised and checked:
    event-active users without orders and order-only customers both
    appear with zeroed counterparts). This is the escape hatch for
    per-key reconciliation logic that isn't a join (custom matching,
    per-key diffing, windowed alignment) while keeping the
    one-co-shuffle plan of a join.

    The cogroup key is a 256-way BUCKET of user_id, not user_id
    itself — the cardinality lesson measured on this exact query:
    per-user cogrouping costs one Python invocation per key (~15k
    tiny frames at sf0.1 = 16.3 s); bucketing drops that to 256
    invocations with the per-user work vectorized inside each bucket
    via pandas groupby + outer merge (1.0 s, 16x). At 100 TB the
    rule generalizes: cogroup on a key whose cardinality matches
    your task count, vectorize the real key within.

    Micros are decimal-cast JVM-side before Python (exact.py
    discipline); the UDF itself is int64 frame arithmetic."""
    import pandas as pd

    def reconcile(key, events_pdf, orders_pdf):
        e = events_pdf.groupby("user_id")["micros"].agg(["size", "sum"])
        o = orders_pdf.groupby("user_id").size().rename("n_orders").to_frame()
        m = e.join(o, how="outer")
        return pd.DataFrame(
            {
                "user_id": m.index.to_numpy(dtype="int64"),
                "n_events": m["size"].fillna(0).to_numpy(dtype="int64"),
                "value_micros": m["sum"].fillna(0).to_numpy(dtype="int64"),
                "n_orders": m["n_orders"].fillna(0).to_numpy(dtype="int64"),
                "in_both": (
                    m["size"].fillna(0).to_numpy(dtype="int64") > 0
                )
                & (m["n_orders"].fillna(0).to_numpy(dtype="int64") > 0),
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("value") * 1000000)
        .cast("decimal(38,0)")
        .cast("long")
        .alias("micros"),
        (F.col("user_id") % 256).alias("bucket"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        (F.col("o_custkey") % 256).alias("bucket"),
    )
    return (
        ev.groupBy("bucket")
        .cogroup(orders.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "user_id long, n_events long, value_micros long, "
            "n_orders long, in_both boolean",
        )
    )


_B101_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(disc_price(l_extendedprice, l_discount)
                     AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(tax_price(l_extendedprice, l_discount, l_tax)
                     AS DECIMAL(38,6))) AS DOUBLE) AS revenue_with_tax
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""


@query(
    "q_b101_sql_udf",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(38,6))) AS DOUBLE) AS revenue_with_tax
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q_b101_sql_udf(spark, sf_dir):
    """B101: SQL UDFs (CREATE FUNCTION ... RETURN expr, Spark 4) —
    named business-logic expressions (discounted price, taxed price)
    defined ONCE in SQL and reused across queries, including one UDF
    calling another. Unlike B51's Python UDF this is a pure
    substitution surface: Catalyst INLINES the body at analysis time,
    so the plan is identical to writing the arithmetic out — full
    codegen, pushdown through it, zero serialization boundary. SQL
    UDFs are how a platform team ships a semantic layer (consistent
    metric definitions) without a Python dependency or a UDF
    performance tax; the oracle runs the expanded expressions,
    demonstrating the equivalence.

    Scale: zero marginal cost by construction — the check that
    matters is plan identity, pinned in tests/test_plans.py (no
    BatchEvalPython / no extra projection)."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)"
        " RETURNS DOUBLE RETURN p * (1 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tax_price("
        "p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE "
        "RETURN disc_price(p, d) * (1 + t)"
    )
    return spark.sql(_B101_SQL)


@query(
    "q_b113_apply_in_arrow",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT)
             AS total_cents,
           CAST(MAX(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT)
             AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_b113_apply_in_arrow(spark, sf_dir):
    """B113: grouped-map via applyInArrow (Spark 4.0) — the last cell
    of the Python-execution matrix: (pandas x arrow) x (map x
    grouped-map x cogrouped): B52/B53 pandas scalar/grouped, B99
    arrow map, B100 pandas cogrouped, this arrow grouped-map. The
    UDF receives each group as a raw ``pyarrow.Table`` — no pandas
    index/dtype round-trip — and folds it with pyarrow.compute
    kernels into exact integer cents, so the per-group aggregate
    matches the SQL oracle bit-for-bit.

    Same single co-shuffle plan as B53 (one exchange on the group
    key, then Python); the arrow path's payoff is per-batch constant
    cost, which at 100 TB of many small groups is the difference
    between the Python stage being conversion-bound vs compute-bound.
    The B53/B63 salting rule applies unchanged when the group key is
    skewed — the Spark key sizes the Arrow table the UDF holds."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fold(table: "pa.Table") -> "pa.Table":
        cents = pc.round(
            pc.multiply(table.column("o_totalprice"), pa.scalar(100.0))
        ).cast(pa.int64())
        return pa.table(
            {
                "o_orderpriority": [table.column("o_orderpriority")[0].as_py()],
                "n_orders": [table.num_rows],
                "total_cents": [pc.sum(cents).as_py()],
                "max_cents": [pc.max(cents).as_py()],
            }
        )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return o.groupBy("o_orderpriority").applyInArrow(
        fold,
        "o_orderpriority string, n_orders long, total_cents long, "
        "max_cents long",
    )


@query(
    "q_b147_polymorphic_udtf",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'),
                         x -> x <> '') AS t
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id,
           CAST(r.i - 1 AS INTEGER) AS pos,
           t[CAST(r.i AS INTEGER)] AS g1,
           t[CAST(r.i + 1 AS INTEGER)] AS g2
    FROM d, unnest(range(1, len(t))) AS r(i)
    """,
)
def q_b147_polymorphic_udtf(spark, sf_dir):
    """B147: POLYMORPHIC Python UDTF — the Spark 4 `analyze()` static
    method computes the OUTPUT SCHEMA from the call's literal
    arguments at plan time: `b147_ngrams(text, 2)` returns (pos, g1,
    g2), `(text, 3)` would return (pos, g1, g2, g3) — one registered
    function serving every width, where B73's fixed `returnType`
    would need a function per shape. This is the table-function
    analogue of generics: format expanders, pivoting parsers, and
    schema-carrying decoders declare their shape per call site and
    Catalyst plans against it statically (column pruning and lateral
    join planning all see the real schema, not a MapType blob).

    The n-gram expansion itself is deliberately the same family as
    B55/B73 so the NEW thing under test is exactly the analyze-time
    polymorphism; the oracle reproduces the n=2 call relationally.

    Scale: identical generator contract to B73 — per-partition
    fan-out pipelined into the scan, no shuffle, Arrow-batched
    boundary."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    class NGrams:
        @staticmethod
        def analyze(text, n):
            width = int(n.value)
            schema = StructType().add("pos", IntegerType())
            for i in range(width):
                schema = schema.add(f"g{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            toks = text.split() if text else []
            for p in range(len(toks) - n + 1):
                yield (p, *toks[p : p + n])

    spark.udtf.register("b147_ngrams", udtf(NGrams, useArrow=True))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "b147_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.*
        FROM b147_docs d, LATERAL b147_ngrams(d.text, 2) t
        WHERE d.doc_id < 20
        """
    )


@query(
    "q_b154_arrow_python_udf",
    oracle="""
    SELECT o_orderpriority,
           CAST(split_part(o_orderpriority, '-', 1) AS BIGINT)
             AS priority_rank,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_b154_arrow_python_udf(spark, sf_dir):
    """B154: Arrow-OPTIMIZED scalar Python UDF (`useArrow=True`,
    Spark 4) — the third rung of the Python scalar ladder and the one
    that closes it: B51 is the classic pickled row loop (10-100x slow
    path), B52 the pandas/Series batch API (fast but a different
    FUNCTION SHAPE — the author writes vectorized code), this is the
    row-shaped function B51's author already wrote, transported over
    Arrow batches instead of pickled rows. Same signature, same
    per-row semantics (including Python-side exceptions), ~10x less
    serialization: the migration path for a codebase full of legacy
    UDFs that cannot all be rewritten as Series kernels.

    The function parses the leading integer from the priority code
    ('1-URGENT' -> 1) — string surgery that exercises Arrow's string
    transport both directions, applied BEFORE a groupBy so the plan
    shows the UDF feeding a real aggregation, not a projection-only
    demo. The oracle reproduces it relationally (split_part).

    Scale: still Python — built-ins win when expressible (this one
    IS expressible, which is what makes it oracle-checkable); the
    point of the operator is the transport contract, and at 100 TB
    the Arrow batches are what keep a must-be-Python hook from
    dominating the stage."""
    parse_rank = F.udf(
        lambda p: int(p.split("-")[0]) if p else None,
        "long",
        useArrow=True,
    )
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderpriority",
            parse_rank("o_orderpriority").alias("priority_rank"),
        )
        .groupBy("o_orderpriority", "priority_rank")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_b171_pandas_on_spark",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o.o_orderkey) AS BIGINT) AS first_key,
           CAST(MAX(o.o_orderkey) AS BIGINT) AS last_key
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 100000
    GROUP BY c.c_mktsegment, o.o_orderpriority
    ORDER BY c.c_mktsegment, o.o_orderpriority
    """,
)
def q_b171_pandas_on_spark(spark, sf_dir):
    """B171: the pandas-on-Spark API (`pyspark.pandas`) — the THIRD
    user surface after DataFrame and SQL, and the one a
    pandas-codebase migration arrives through: the catalog tables
    handed over with `pandas_api()` → boolean-mask filter → merge →
    groupby/agg → sort_values, spelled exactly as pandas, planned by
    Catalyst. The operator's claim is semantic identity: the ps chain
    must hash-match the relational oracle — same filter, join, and
    grouping — proving the compat layer is a FRONT-END (every step
    lowers to the same plan the DataFrame API builds), not a
    reimplementation with pandas row semantics.

    Cost notes a migration must know, encoded here: `pandas_api()`
    attaches the same default index as `ps.read_parquet` (which would
    also pay a footer-inference job per call) — `to_spark()` before
    returning drops it, and index-free chains avoid the
    distributed-sequence zipWithIndex pass; sort_values is
    declarative (lazy) like orderBy, nothing like pandas' eager
    in-memory sort. Aggregates are integer-exact (counts, key
    extremes) so the surface demo carries a total hash match.

    Scale: identical to the equivalent DataFrame plan — the filter
    pushes to the scan, the merge is the same hash join, groupby the
    same partial agg; the ONLY ps-specific hazard is the default
    index (a corpus-wide sequence), avoided as above."""
    pso = load_table(spark, sf_dir, "orders").pandas_api()
    psc = load_table(spark, sf_dir, "customer").pandas_api()
    big = pso[pso.o_totalprice > 100000]
    joined = big.merge(
        psc[["c_custkey", "c_mktsegment"]],
        left_on="o_custkey",
        right_on="c_custkey",
    )
    out = (
        joined.groupby(["c_mktsegment", "o_orderpriority"])
        .agg(
            n_orders=("o_orderkey", "count"),
            first_key=("o_orderkey", "min"),
            last_key=("o_orderkey", "max"),
        )
        .reset_index()
        .sort_values(["c_mktsegment", "o_orderpriority"])
    )
    return out.to_spark().select(
        "c_mktsegment",
        "o_orderpriority",
        F.col("n_orders").cast("long"),
        F.col("first_key").cast("long"),
        F.col("last_key").cast("long"),
    )


@query(
    "q_b172_udf_determinism_contract",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_orderkey % 7 AS BIGINT) AS shard
    FROM orders
    WHERE o_orderkey < 500
    ORDER BY o_orderkey
    """,
)
def q_b172_udf_determinism_contract(spark, sf_dir):
    """B172: the UDF DETERMINISM contract — `asNondeterministic()` and
    what it buys/costs. Catalyst may push, reorder, collapse, and
    RE-EXECUTE any expression it believes deterministic; a Python UDF
    that secretly isn't (reads a clock, counts calls, samples)
    silently breaks under exactly those rewrites — filters evaluated
    before/after it change its input set, projection collapse changes
    its call COUNT. Declaring it nondeterministic is the fence: the
    optimizer stops moving expressions across it. The fence is
    observable in the plan and PINNED in tests/test_plans.py: an
    identical filter lands BELOW the Python eval for the default
    declaration (pushed toward the scan) and stays ABOVE it for the
    asNondeterministic twin.

    This query runs the declared-NONDETERMINISTIC arm with a
    value-deterministic function (id % 7), so the result is
    oracle-checkable while the plan shows the fence — the B19
    self-verifying trick applied to an optimizer contract.

    Scale: the fence has a real price — an unpushed filter after an
    expensive UDF means the UDF runs on ALL rows (here: every
    orderkey, filtered to <500 only afterwards). Declare
    nondeterminism only when true; when true, FILTER FIRST in a
    subquery the optimizer cannot cross."""
    nondet = F.udf(lambda x: x % 7, "long").asNondeterministic()
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", nondet("o_orderkey").alias("shard"))
        .filter(F.col("o_orderkey") < 500)
        .orderBy("o_orderkey")
    )

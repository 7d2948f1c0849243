"""Scalar expressions & functions (SURVEY §2.8; reference
kv/CalciteSqlParser.java:510-858, kv/MathFunctions.java,
kv/DateTimeFunctions.java): ``expr_*``, plus the semi-structured
``json_*``, ``array_*`` and ``explode_*`` entries.

All JVM-side built-ins inside whole-stage codegen — no Python UDFs. Where
Spark and DuckDB return different types for the same function (CEIL,
EXTRACT, string casts) results are CAST to a common type; transcendentals
go through DECIMAL(18,6) so last-ulp libm differences can't flip the hash,
then back to DOUBLE so no DECIMAL crosses the engine boundary (scaled
renderings like '0.450000' vs '0.45' hash differently in some fetch paths).
"""

from __future__ import annotations

from cassandra_sql_spark.queries.base import Q, sql_q


# Business-day count via pure integer day arithmetic — no EXTRACT(DOW)
# (Spark numbers Sunday=1 where DuckDB numbers Sunday=0): with x = days
# since a Monday anchor (1969-12-29), f(x) = 5*floor(x/7) + min(x%7, 5)
# counts the Mon-Fri days in [anchor, anchor+x), and f(e) - f(s) is the
# business-day span. Everything is BIGINT until the final cast.
_FB = "(5 * FLOOR(({x}) / 7) + LEAST(({x}) % 7, 5))"

_BIZDAYS_BODY = f"""
WITH d AS (
  SELECT l.l_orderkey, l.l_linenumber,
         {{dd_s}} AS s, {{dd_e}} AS e
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
)
SELECT l_orderkey, l_linenumber,
       CAST(e - s AS BIGINT) AS calendar_days,
       CAST({_FB.format(x='e')} - {_FB.format(x='s')} AS BIGINT)
         AS business_days
FROM d ORDER BY l_orderkey, l_linenumber LIMIT 2000
"""

QUERIES: dict[str, Q] = {
    # Searched + simple CASE (reference kv/CalciteSqlParser.java:566-573,
    # 701-811; kv/CaseExpressionTest.java).
    "expr_case": sql_q(
        """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 300000 THEN 'high'
                    WHEN o_totalprice > 150000 THEN 'mid'
                    ELSE 'low' END AS bucket,
               CASE o_orderstatus WHEN 'F' THEN 'final'
                                  WHEN 'O' THEN 'open'
                                  ELSE 'other' END AS status_name
        FROM orders WHERE o_orderkey < 5000
        """,
        ("orders",),
    ),
    # || and CONCAT (reference kv/CalciteSqlParser.java:612-624).
    "expr_concat": sql_q(
        """
        SELECT n_nationkey,
               n_name || '-' || CAST(n_regionkey AS BIGINT) AS tagged,
               CONCAT(n_name, '/', n_name) AS doubled
        FROM nation
        """,
        ("nation",),
    ),
    # + - * / % with int and double operands
    # (reference kv/CalciteSqlParser.java:626-652).
    "expr_arithmetic": sql_q(
        """
        SELECT l_orderkey, l_linenumber,
               l_quantity + 1.0 AS q_plus,
               l_quantity - 0.5 AS q_minus,
               l_quantity * 2.0 AS q_times,
               l_quantity / 4 AS q_div,
               MOD(CAST(l_orderkey AS BIGINT), 7) AS k_mod,
               -l_quantity AS q_neg
        FROM lineitem WHERE l_orderkey < 1000
        """,
        ("lineitem",),
    ),
    # ROUND/CEIL/FLOOR/POWER/SQRT/ABS/SIGN (reference
    # kv/CalciteSqlParser.java:654-672, kv/MathFunctions.java:20-341).
    # CEIL/FLOOR cast to BIGINT (DuckDB returns double, Spark long).
    "expr_math": sql_q(
        """
        SELECT l_orderkey, l_linenumber,
               ABS(l_quantity - 25.0) AS dist25,
               CAST(CEIL(l_quantity / 4) AS BIGINT) AS q_ceil,
               CAST(FLOOR(l_quantity / 4) AS BIGINT) AS q_floor,
               ROUND(l_quantity / 4, 2) AS q_round,
               POWER(l_quantity, 2) AS q_sq,
               SQRT(l_quantity) AS q_sqrt,
               CAST(SIGN(l_quantity - 25.0) AS DOUBLE) AS s
        FROM lineitem WHERE l_orderkey < 1000
        """,
        ("lineitem",),
    ),
    # Transcendentals through DECIMAL(18,6) then back to DOUBLE: the decimal
    # hop kills last-ulp libm skew between engines; the DOUBLE output avoids
    # scaled-decimal rendering ('0.450000' vs '0.45') flipping value hashes
    # across fetch paths.
    "expr_math_transcendental": sql_q(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(LN(l_quantity + 1) AS DECIMAL(18,6)) AS DOUBLE)
                 AS ln_q,
               CAST(CAST(EXP(l_quantity / 50.0) AS DECIMAL(18,6)) AS DOUBLE)
                 AS exp_q,
               CAST(CAST(LOG10(l_quantity + 1) AS DECIMAL(18,6)) AS DOUBLE)
                 AS log10_q,
               CAST(CAST(SIN(l_quantity) AS DECIMAL(18,6)) AS DOUBLE)
                 AS sin_q,
               CAST(CAST(ATAN2(l_quantity, 10.0) AS DECIMAL(18,6)) AS DOUBLE)
                 AS atan2_q
        FROM lineitem WHERE l_orderkey < 500
        """,
        ("lineitem",),
    ),
    "expr_coalesce_nullif": sql_q(
        """
        SELECT o_orderkey,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS st,
               COALESCE(NULLIF(o_totalprice, 0.0), -1.0) AS price,
               GREATEST(o_totalprice, 100000.0) AS hi,
               LEAST(o_totalprice, 100000.0) AS lo
        FROM orders WHERE o_orderkey < 4000
        """,
        ("orders",),
    ),
    # String function battery (UPPER/LOWER/SUBSTR/LENGTH/TRIM/REPLACE/
    # LEFT/RIGHT/LPAD/INSTR — shared surface of both dialects).
    "expr_string_funcs": sql_q(
        """
        SELECT p_partkey,
               UPPER(p_brand) AS up,
               LOWER(p_type) AS lo,
               SUBSTR(p_name, 1, 8) AS prefix,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               TRIM(p_name) AS trimmed,
               REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
               LPAD(CAST(p_size AS STRING), 4, '0') AS size_pad,
               CAST(INSTR(p_name, 'a') AS BIGINT) AS first_a
        FROM part WHERE p_partkey < 500
        """,
        ("part",),
        oracle="""
        SELECT p_partkey,
               UPPER(p_brand) AS up,
               LOWER(p_type) AS lo,
               SUBSTR(p_name, 1, 8) AS prefix,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               TRIM(p_name) AS trimmed,
               REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
               LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
               CAST(INSTR(p_name, 'a') AS BIGINT) AS first_a
        FROM part WHERE p_partkey < 500
        """,
    ),
    # Type coercion battery (reference kv/KvQueryExecutor.java:4155-4300).
    # STRING vs VARCHAR spelling differs -> dialect-specific oracle.
    "expr_cast": sql_q(
        """
        SELECT o_orderkey,
               CAST(o_totalprice AS BIGINT) AS price_int,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 AS price_dec,
               CAST(o_orderkey AS DOUBLE) AS key_dbl,
               CAST(o_orderkey AS STRING) AS key_str,
               CAST(o_orderdate AS DATE) AS order_day
        FROM orders WHERE o_orderkey < 2000
        """,
        ("orders",),
        oracle="""
        SELECT o_orderkey,
               CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 AS price_dec,
               CAST(o_orderkey AS DOUBLE) AS key_dbl,
               CAST(o_orderkey AS VARCHAR) AS key_str,
               CAST(o_orderdate AS DATE) AS order_day
        FROM orders WHERE o_orderkey < 2000
        """,
    ),
    # EXTRACT + date_trunc + interval arithmetic (reference
    # kv/DateTimeFunctions.java:22-351).
    "expr_datetime": sql_q(
        """
        SELECT o_orderkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
               CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS d,
               CAST(EXTRACT(HOUR FROM o_orderdate) AS BIGINT) AS h,
               DATE_TRUNC('month', o_orderdate) AS month_start,
               DATE_TRUNC('week', o_orderdate) AS week_start,
               o_orderdate + INTERVAL '3' DAY AS plus3d,
               o_orderdate - INTERVAL '2' MONTH AS minus2m
        FROM orders WHERE o_orderkey < 2000
        """,
        ("orders",),
        oracle="""
        SELECT o_orderkey,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
               CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS d,
               CAST(EXTRACT(HOUR FROM o_orderdate) AS BIGINT) AS h,
               CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP)
                 AS month_start,
               CAST(DATE_TRUNC('week', o_orderdate) AS TIMESTAMP)
                 AS week_start,
               o_orderdate + INTERVAL 3 DAY AS plus3d,
               o_orderdate - INTERVAL 2 MONTH AS minus2m
        FROM orders WHERE o_orderkey < 2000
        """,
    ),
    # Day-difference & formatting — dialects diverge (Spark datediff /
    # date_format vs DuckDB subtraction / strftime).
    "expr_datediff_format": sql_q(
        """
        SELECT l_orderkey, l_linenumber,
               DATEDIFF(CAST(l_shipdate AS DATE),
                        CAST(TIMESTAMP '1995-01-01 00:00:00' AS DATE))
                 AS days_since,
               DATE_FORMAT(l_shipdate, 'yyyy-MM') AS ship_month
        FROM lineitem WHERE l_orderkey < 800
        """,
        ("lineitem",),
        oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_shipdate AS DATE) - DATE '1995-01-01' AS INT)
                 AS days_since,
               STRFTIME(l_shipdate, '%Y-%m') AS ship_month
        FROM lineitem WHERE l_orderkey < 800
        """,
    ),
    # Grouping on a computed expression (monthly revenue rollup — the shape
    # behind a hypertable-style time bucket).
    "expr_time_bucket_agg": sql_q(
        """
        SELECT DATE_TRUNC('month', o_orderdate) AS month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS revenue
        FROM orders
        GROUP BY DATE_TRUNC('month', o_orderdate)
        """,
        ("orders",),
        oracle="""
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS revenue
        FROM orders
        GROUP BY DATE_TRUNC('month', o_orderdate)
        """,
    ),
    # ->> equivalent: extract scalar text then cast
    # (reference kv/JsonHelper.java:67-134).
    "json_extract_scalar": sql_q(
        """
        SELECT event_id,
               GET_JSON_OBJECT(props, '$.k') AS k_text,
               CAST(GET_JSON_OBJECT(props, '$.k') AS BIGINT) AS k_num
        FROM events WHERE event_id < 2000
        """,
        ("events",),
        oracle="""
        -- json_valid guard: Spark's get_json_object NULLs malformed or
        -- NULL JSON; DuckDB's extractor raises. Identical on well-formed
        -- input, NULL-aligned on garbage (pinned by the adversarial
        -- events suite).
        SELECT event_id,
               CASE WHEN props IS NOT NULL AND json_valid(props)
                    THEN JSON_EXTRACT_STRING(props, '$.k') END AS k_text,
               CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                         THEN JSON_EXTRACT_STRING(props, '$.k') END
                    AS BIGINT) AS k_num
        FROM events WHERE event_id < 2000
        """,
    ),
    # JSON predicate in WHERE + aggregation over extracted values.
    # get_json_object (Jackson streaming path extractor) measured fastest
    # here: single-path streaming extraction beats materializing a
    # from_json struct (0.38s vs 0.50s at sf0.1; variant_get 0.43s;
    # re-confirmed round 8 with interleaved A/Bs). Round 12: the WHERE on
    # the derived column was pushed below the Project, so every surviving
    # row paid the extraction TWICE (Filter + Project — the guide §4.4
    # duplication, with a JVM expression instead of a UDF). Folding the
    # predicate into conditional aggregates + HAVING n > 0 extracts once
    # per row: 0.51s -> 0.39s median at sf0.1 (interleaved A/B, identical
    # rows — a group appears iff >= 1 row passes k > 50, which is exactly
    # n > 0; COUNT/SUM over the CASE see the same surviving rows).
    "json_filter_agg": sql_q(
        """
        SELECT event_type, n, sum_k
        FROM (
          SELECT event_type,
                 COUNT(CASE WHEN k > 50 THEN 1 END) AS n,
                 CAST(SUM(CASE WHEN k > 50 THEN k END) AS BIGINT) AS sum_k
          FROM (
            SELECT event_type,
                   CAST(GET_JSON_OBJECT(props, '$.k') AS BIGINT) AS k
            FROM events
          )
          GROUP BY event_type
        )
        WHERE n > 0
        """,
        ("events",),
        oracle="""
        WITH e AS (
          SELECT event_type,
                 CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                           THEN JSON_EXTRACT_STRING(props, '$.k') END
                      AS BIGINT) AS k
          FROM events
        )
        SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
        FROM e WHERE k > 50 GROUP BY event_type
        """,
    ),
    # TRY_CAST: error-safe coercion (NULL instead of failure/garbage) —
    # the ingestion-time idiom for semi-trusted columns. Cases stick to
    # clean-integer vs clearly-invalid strings: the engines agree there,
    # while fractional strings diverge (DuckDB rounds '3.9'->4, Spark
    # yields NULL) — that divergence is documented here, not graded.
    "expr_try_cast": sql_q(
        """
        SELECT o_orderkey,
               TRY_CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)
                 AS prio_num,
               TRY_CAST(o_orderpriority AS BIGINT) AS junk_to_null,
               TRY_CAST(o_orderstatus AS BIGINT) AS status_to_null,
               COALESCE(TRY_CAST(o_orderstatus AS BIGINT), -1)
                 AS with_default
        FROM orders WHERE o_orderkey < 1000
        """,
        ("orders",),
    ),
    # Bitwise expression + aggregate family (absent from the reference's
    # expression set): operators &, |, xor, shifts, popcount, and the
    # bit_and/bit_or/bit_xor reduction aggregates. Dialect split on xor
    # (Spark infix ^, DuckDB xor()) and shifts (Spark shiftleft/right
    # functions, DuckDB << >>).
    "expr_bitwise": sql_q(
        """
        SELECT o_orderkey,
               CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
               CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
               CAST(o_orderkey ^ 170 AS BIGINT) AS xored,
               CAST(shiftleft(o_orderkey, 3) AS BIGINT) AS shl3,
               CAST(shiftright(o_orderkey, 2) AS BIGINT) AS shr2,
               CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
        FROM orders WHERE o_orderkey < 2000
        """,
        ("orders",),
        oracle="""
        SELECT o_orderkey,
               CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
               CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
               CAST(xor(o_orderkey, 170) AS BIGINT) AS xored,
               CAST(o_orderkey << 3 AS BIGINT) AS shl3,
               CAST(o_orderkey >> 2 AS BIGINT) AS shr2,
               CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
        FROM orders WHERE o_orderkey < 2000
        """,
    ),
    # String-function tail: split_part / levenshtein / translate agree
    # byte-for-byte across engines.
    # DuckDB quirk: split_part(NULL, ...) returns '' instead of NULL
    # (non-standard; Spark and Postgres both propagate NULL), so the
    # oracle guards the NULL case explicitly. Exposed by the adversarial
    # TPC-H fixture's NULL o_orderpriority rows.
    "expr_string_funcs2": sql_q(
        """
        SELECT o_orderkey,
               split_part(o_orderpriority, '-', 2) AS prio_word,
               CAST(levenshtein(o_orderstatus, 'OF') AS BIGINT) AS lev,
               translate(o_orderpriority, '12345', 'abcde') AS trans
        FROM orders WHERE o_orderkey < 600
        """,
        ("orders",),
        oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderpriority IS NULL THEN NULL
                    ELSE split_part(o_orderpriority, '-', 2) END AS prio_word,
               CAST(levenshtein(o_orderstatus, 'OF') AS BIGINT) AS lev,
               translate(o_orderpriority, '12345', 'abcde') AS trans
        FROM orders WHERE o_orderkey < 600
        """,
    ),
    # Regexp extraction/replacement. Spark's regexp_replace is global
    # by default; DuckDB needs the explicit 'g' flag.
    "expr_regexp_funcs": sql_q(
        """
        SELECT p_partkey,
               regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
               regexp_replace(p_name, '[aeiou]', '_') AS devoweled
        FROM part WHERE p_partkey < 700
        """,
        ("part",),
        oracle="""
        SELECT p_partkey,
               regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
        FROM part WHERE p_partkey < 700
        """,
    ),
    # Typed INTERVAL arithmetic on timestamps and dates (the reference
    # stores intervals as ISO strings and cannot compute with them,
    # kv/TableMetadata.java:348-349; both engines here share the
    # `INTERVAL n UNIT` literal syntax). Results are cast to concrete
    # TIMESTAMP/DATE so output types agree.
    "expr_interval_typed": sql_q(
        """
        SELECT event_id,
               CAST(ts + INTERVAL 90 MINUTE AS TIMESTAMP) AS due,
               CAST(ts - INTERVAL 1 DAY AS TIMESTAMP) AS day_before,
               CAST(CAST(ts AS DATE) + INTERVAL 7 DAY AS DATE) AS review_day
        FROM events WHERE event_id < 300
        ORDER BY event_id
        """,
        ("events",),
    ),
    # width_bucket histogram (equi-width binning). DuckDB has no
    # width_bucket; the oracle spells out the same bucketing with the
    # bin width chosen binary-exact (8000/16 = 500) so the arithmetic
    # agrees to the last ulp.
    "expr_width_bucket": sql_q(
        """
        SELECT CAST(WIDTH_BUCKET(o_totalprice, 0, 8000, 16) AS BIGINT)
                 AS bucket,
               COUNT(*) AS n
        FROM orders
        GROUP BY WIDTH_BUCKET(o_totalprice, 0, 8000, 16)
        ORDER BY bucket
        """,
        ("orders",),
        oracle="""
        WITH b AS (
          SELECT CASE WHEN o_totalprice < 0 THEN 0
                      WHEN o_totalprice >= 8000 THEN 17
                      ELSE CAST(FLOOR(o_totalprice / 500) + 1 AS BIGINT)
                 END AS bucket
          FROM orders
        )
        SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket ORDER BY bucket
        """,
    ),
    # posexplode / UNNEST WITH ORDINALITY: element position travels with
    # the value. DuckDB lacks WITH ORDINALITY; generate_subscripts
    # zipped with unnest is the equivalent.
    "explode_ordinality": sql_q(
        """
        SELECT p_partkey, CAST(pos + 1 AS BIGINT) AS ord, word
        FROM part
        LATERAL VIEW POSEXPLODE(SPLIT(p_name, ' ')) t AS pos, word
        WHERE p_partkey < 300
        ORDER BY p_partkey, ord
        """,
        ("part",),
        oracle="""
        SELECT p_partkey, CAST(o AS BIGINT) AS ord, w AS word FROM (
          SELECT p_partkey,
                 UNNEST(string_split(p_name, ' ')) AS w,
                 generate_subscripts(string_split(p_name, ' '), 1) AS o
          FROM part WHERE p_partkey < 300
        ) x ORDER BY p_partkey, ord
        """,
    ),
    # ANSI-standard string spellings (SUBSTRING FROM/FOR, POSITION IN,
    # TRIM BOTH/LEADING FROM, OVERLAY PLACING): the keyword forms many
    # tools emit. DuckDB has no OVERLAY — the oracle composes it from
    # substr || replacement || substr.
    "expr_ansi_string_spellings": sql_q(
        """
        SELECT p_partkey,
               SUBSTRING(p_name FROM 2 FOR 5) AS sub,
               CAST(POSITION('a' IN p_name) AS BIGINT) AS pos_a,
               TRIM(BOTH 'x' FROM 'xx' || p_brand || 'xx') AS btrim,
               TRIM(LEADING '#' FROM '##' || p_type) AS ltrim_hash,
               OVERLAY(p_brand PLACING 'ZZ' FROM 1 FOR 2) AS overlaid
        FROM part WHERE p_partkey < 300
        ORDER BY p_partkey
        """,
        ("part",),
        oracle="""
        SELECT p_partkey,
               SUBSTRING(p_name FROM 2 FOR 5) AS sub,
               CAST(POSITION('a' IN p_name) AS BIGINT) AS pos_a,
               TRIM(BOTH 'x' FROM 'xx' || p_brand || 'xx') AS btrim,
               TRIM(LEADING '#' FROM '##' || p_type) AS ltrim_hash,
               'ZZ' || SUBSTR(p_brand, 3) AS overlaid
        FROM part WHERE p_partkey < 300
        ORDER BY p_partkey
        """,
    ),
    # ARRAY construction + functions (reference ARRAY type,
    # kv/ValueEncoder.java:317-347; kv/ArrayTypeTest.java). Dialect oracle:
    # Spark array fns vs DuckDB list fns.
    "array_ops": sql_q(
        """
        SELECT doc_id,
               SIZE(SPLIT(TRIM(text), '\\\\s+')) AS n_tok,
               ELEMENT_AT(SPLIT(TRIM(text), '\\\\s+'), 1) AS first_tok,
               ELEMENT_AT(SPLIT(TRIM(text), '\\\\s+'), -1) AS last_tok,
               ARRAY_CONTAINS(SPLIT(TRIM(text), '\\\\s+'), 'spark') AS has_spark,
               SIZE(ARRAY_DISTINCT(SPLIT(TRIM(text), '\\\\s+'))) AS n_distinct,
               SIZE(SLICE(SPLIT(TRIM(text), '\\\\s+'), 1, 5)) AS n_head
        FROM documents
        """,
        ("documents",),
        oracle="""
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tok,
               string_split_regex(trim(text), '\\s+')[1] AS first_tok,
               string_split_regex(trim(text), '\\s+')[-1] AS last_tok,
               list_contains(string_split_regex(trim(text), '\\s+'), 'spark')
                 AS has_spark,
               CAST(len(list_distinct(string_split_regex(trim(text), '\\s+')))
                 AS INT) AS n_distinct,
               CAST(len(string_split_regex(trim(text), '\\s+')[1:5]) AS INT)
                 AS n_head
        FROM documents
        """,
    ),
    # LATERAL explode (flatten) — token frequency table.
    "explode_tokens": sql_q(
        """
        SELECT tok, COUNT(*) AS n
        FROM documents
        LATERAL VIEW EXPLODE(SPLIT(TRIM(text), '\\\\s+')) t AS tok
        GROUP BY tok
        """,
        ("documents",),
        oracle="""
        SELECT tok, COUNT(*) AS n FROM (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents
        ) GROUP BY tok
        """,
    ),
    # Sorted array_agg per group (deterministic by sorting). The graded
    # entry serializes the array to a scalar CSV at the hash boundary —
    # the correctness gate's pandas-based hasher cannot hash ARRAY
    # columns; array-typed forms stay library-internal.
    "array_agg_per_group": sql_q(
        """
        SELECT n_regionkey,
               ARRAY_JOIN(SORT_ARRAY(COLLECT_LIST(n_name)), ',') AS nations
        FROM nation GROUP BY n_regionkey
        """,
        ("nation",),
        oracle="""
        SELECT n_regionkey,
               array_to_string(list_sort(list(n_name)), ',') AS nations
        FROM nation GROUP BY n_regionkey
        """,
    ),
    # Datetime extras: DOW/DOY/QUARTER (pg-compatible numbering in both),
    # LAST_DAY, epoch seconds.
    "expr_datetime_extras": sql_q(
        """
        SELECT o_orderkey,
               CAST(EXTRACT(DOW FROM o_orderdate) AS BIGINT) AS dow,
               CAST(EXTRACT(DOY FROM o_orderdate) AS BIGINT) AS doy,
               CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS q,
               LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
               UNIX_TIMESTAMP(o_orderdate) AS epoch_s
        FROM orders WHERE o_orderkey < 1500
        """,
        ("orders",),
        oracle="""
        -- Spark EXTRACT(DOW) is 1-7 with Sunday=1 (= dayofweek());
        -- DuckDB/pg DOW is 0-6 with Sunday=0 -> +1 to align.
        SELECT o_orderkey,
               CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS BIGINT) AS dow,
               CAST(EXTRACT(DOY FROM o_orderdate) AS BIGINT) AS doy,
               CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS q,
               LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        FROM orders WHERE o_orderkey < 1500
        """,
    ),
    # pg string-function staples round 2: split_part / initcap /
    # translate / repeat / reverse / md5 / ascii (reference string library
    # kv/FunctionRegistry; same names in both dialects).
    "expr_string_extras": sql_q(
        """
        SELECT p_partkey,
               SPLIT_PART(p_type, ' ', 1) AS type_head,
               INITCAP(p_brand) AS brand_cap,
               TRANSLATE(p_brand, '#', '-') AS brand_dash,
               REPEAT(p_brand, 2) AS brand2,
               REVERSE(p_type) AS type_rev,
               MD5(p_name) AS name_md5,
               CAST(ASCII(p_name) AS INT) AS first_code
        FROM part WHERE p_partkey < 300
        """,
        ("part",),
        # DuckDB has no initcap: spell it as first-upper + rest-lower
        # (p_brand is single-word, so this matches Spark's per-word rule)
        oracle="""
        -- NULL guard: DuckDB split_part(NULL, ...) returns '' where
        -- Spark (and pg) return NULL
        SELECT p_partkey,
               CASE WHEN p_type IS NULL THEN NULL
                    ELSE SPLIT_PART(p_type, ' ', 1) END AS type_head,
               UPPER(SUBSTR(p_brand, 1, 1)) || LOWER(SUBSTR(p_brand, 2))
                 AS brand_cap,
               TRANSLATE(p_brand, '#', '-') AS brand_dash,
               REPEAT(p_brand, 2) AS brand2,
               REVERSE(p_type) AS type_rev,
               MD5(p_name) AS name_md5,
               CAST(ASCII(p_name) AS INT) AS first_code
        FROM part WHERE p_partkey < 300
        """,
    ),
    # Typed-interval arithmetic on a STORED interval column: ts - LAG(ts)
    # materializes a DayTimeIntervalType column, then the query compares
    # it against an INTERVAL literal, adds/subtracts it back onto
    # timestamps, and reduces it per group. Boundary stays scalar:
    # Spark CAST(interval AS BIGINT) yields whole seconds, matching
    # DuckDB FLOOR(epoch(gap)) (gaps are non-negative by the LAG order,
    # so truncation == floor).
    "expr_interval_arith": sql_q(
        """
        WITH g AS (
          SELECT user_id, event_id, ts,
                 ts - LAG(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS gap
          FROM events WHERE ts IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(COUNT_IF(gap > INTERVAL 1 HOUR) AS BIGINT)
                 AS n_long_gaps,
               CAST(SUM(CAST(gap AS BIGINT)) AS BIGINT) AS total_gap_s,
               CAST(MAX(ts + gap) AS TIMESTAMP) AS latest_due,
               CAST(MIN(ts - gap) AS TIMESTAMP) AS earliest_back
        FROM g
        GROUP BY user_id
        ORDER BY user_id
        LIMIT 200
        """,
        ("events",),
        oracle="""
        WITH g AS (
          SELECT user_id, event_id, ts,
                 ts - LAG(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS gap
          FROM events WHERE ts IS NOT NULL
        )
        SELECT user_id,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(COUNT(*) FILTER (gap > INTERVAL 1 HOUR) AS BIGINT)
                 AS n_long_gaps,
               CAST(SUM(CAST(FLOOR(epoch(gap)) AS BIGINT)) AS BIGINT)
                 AS total_gap_s,
               MAX(ts + gap) AS latest_due,
               MIN(ts - gap) AS earliest_back
        FROM g
        GROUP BY user_id
        ORDER BY user_id
        LIMIT 200
        """,
    ),
    # Business days between order placement and line shipment — the
    # dialect-proof integer-day formula (see _FB above; EXTRACT(DOW)
    # numbers weekdays differently across engines, epoch-day modular
    # arithmetic does not). Broadcast-joins orders' date onto lineitem.
    "expr_business_days": sql_q(
        _BIZDAYS_BODY.format(
            dd_s="DATEDIFF(o.o_orderdate, DATE '1969-12-29')",
            dd_e="DATEDIFF(l.l_shipdate, DATE '1969-12-29')",
        ),
        ("lineitem", "orders"),
        oracle=_BIZDAYS_BODY.format(
            dd_s="DATEDIFF('day', DATE '1969-12-29', o.o_orderdate)",
            dd_e="DATEDIFF('day', DATE '1969-12-29', l.l_shipdate)",
        ),
    ),
}

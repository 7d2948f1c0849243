"""Driver-held rows as one VALUES relation.

``spark.createDataFrame(rows, ddl)`` wraps the rows in a Python RDD, so
collecting even a one-row frame runs a Spark job, one task per core, each
through a Python worker (~0.25 s of wall time on a 4-core box).
``values_frame`` renders the rows as literals into one SQL text instead.
The JVM plans it as a ``LocalRelation``, which is collected, joined or
broadcast without a job, and the whole frame costs one parse rather than
a py4j call per value.

Every value is ``CAST(<literal> AS <ddl type>)``, so the column types are
the DDL's. Strings are hex-encoded (``CAST(X'…' AS STRING)``), so neither
``spark.sql.parser.escapedStringLiterals`` nor ANSI mode can change them;
doubles go through ``CAST('<repr>' AS DOUBLE)``, which parses back to the
identical double. A trailing all-NULL row, filtered out, gives the frame
its types when ``rows`` is empty and keeps every column nullable, as
``createDataFrame`` made them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_KEEP = "__values_keep"


def sql_ident(name: str) -> str:
    """Column name -> backtick-quoted SQL reference. Embedded backticks
    are escaped by doubling, so a hostile or merely unlucky column name
    can't break out of the quoting."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v) -> str:
    """One Python value as a SQL literal: None, bool, int, float, str,
    or a list/tuple of those (an ``array(…)``)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr round-trips exactly and Java parses it to the same double;
        # 'nan' and 'inf' are cast special values
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    if isinstance(v, (list, tuple)):
        return f"array({', '.join(sql_literal(x) for x in v)})"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """``"a bigint, `b c` decimal(10,2)"`` -> [(name, type), …]: split on
    the commas outside parentheses, angle brackets and backticks."""
    parts, cur, depth, quoted = [], [], 0, False
    for ch in ddl:
        if ch == "`":
            quoted = not quoted
        elif not quoted and ch in "(<":
            depth += 1
        elif not quoted and ch in ")>":
            depth -= 1
        elif not quoted and ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    parts.append("".join(cur).strip())
    out = []
    for part in parts:
        if part.startswith("`"):
            end = part.index("`", 1)
            name, typ = part[1:end], part[end + 1:]
        else:
            name, typ = part.split(None, 1)
        out.append((name, typ.strip()))
    return out


def values_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl``'s column order) as a frame with
    ``ddl``'s column names and types, every column nullable, in row
    order, planned as a LocalRelation: no Spark job to collect it."""
    fields = _ddl_fields(ddl)
    names = [sql_ident(n) for n, _ in fields]

    def row(values, keep: str) -> str:
        if len(values) != len(fields):
            raise ValueError(
                f"row has {len(values)} values for {len(fields)} columns"
            )
        cells = [
            f"CAST({sql_literal(v)} AS {t})"
            for v, (_, t) in zip(values, fields)
        ]
        return f"({', '.join(cells + [keep])})"

    body = [row(r, "TRUE") for r in rows]
    body.append(row([None] * len(fields), "FALSE"))
    return spark.sql(
        f"SELECT {', '.join(names)} FROM VALUES {', '.join(body)} "
        f"AS __values({', '.join(names + [_KEEP])}) WHERE {_KEEP}"
    )

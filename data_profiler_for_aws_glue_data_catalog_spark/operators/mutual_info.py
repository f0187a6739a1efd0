"""Mutual information between categorical column pairs.

Deequ's ``MutualInformation(a, b)`` (public analyzer; the reference app
never wires it) measures dependence between two columns from their joint
value distribution:

    MI = sum_{x,y} p(x,y) * ln( p(x,y) / (p(x) * p(y)) )

over rows where BOTH columns are non-null (Deequ's frequency-based
analyzers group on non-null keys). Natural log, like Entropy.

Plan shape (per pair)
---------------------
1. ``groupBy(a, b).count()`` — the ONLY shuffle that touches table data.
2. Marginals derived FROM the joint table (``groupBy(a).sum(cnt)`` etc.)
   — these shuffle |distinct pairs| rows, not table rows. Deriving
   marginals from the joint beats a GROUPING SETS formulation, whose
   Expand would triple the rows entering the data shuffle.
3. Marginals broadcast-joined back onto the joint table; one final
   single-row aggregation sums the MI terms.

Determinism: MI terms involve libm ``ln`` — same policy as Entropy
(SURVEY §2.A #8): final value rounded to 6 dp; the DuckDB oracle mirrors
the exact same term expression.

Scale notes (100 TB): cost is one hash-agg shuffle per pair over the
pair's columns only (column pruning leaves the scan reading 2 columns).
High-cardinality pairs bound state by |A x B| distinct combos — for
genuinely huge domains, pre-bucket values (e.g. hash(v) % 2^20) to get
a bounded-state MI estimate; exact MI on unbounded domains is
irreducibly |joint|-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_for_aws_glue_data_catalog_spark.functions.rounding import ROUND6
from data_profiler_for_aws_glue_data_catalog_spark.plans.metrics_frame import sql_ident

MI_COLS = ["col_a", "col_b", "n_joint", "mutual_information"]


def _pair_mi(df: DataFrame, a: str, b: str) -> DataFrame:
    qa, qb = sql_ident(a), sql_ident(b)
    joint = (
        df.where(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(F.col(a).alias("x"), F.col(b).alias("y"))
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    marg_a = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    marg_b = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    terms = (
        joint.join(F.broadcast(marg_a), "x")
        .join(F.broadcast(marg_b), "y")
    )
    # N = sum of joint counts; computed in the same final agg so the whole
    # finish is one tiny job over |joint| rows.
    out = terms.selectExpr(
        "nxy",
        "nx",
        "ny",
    ).selectExpr(
        "sum(nxy) AS n",
        # sum of nxy*ln(nxy) etc. -- factored form lets every term use exact
        # bigint counts; only the logs are floating point:
        # MI = (1/N) * sum nxy*ln(nxy) - (1/N) * sum nxy*ln(nx)
        #      - (1/N) * sum nxy*ln(ny) + ln(N)
        "sum(cast(nxy AS double) * ln(cast(nxy AS double))) AS sxy",
        "sum(cast(nxy AS double) * ln(cast(nx AS double))) AS sx",
        "sum(cast(nxy AS double) * ln(cast(ny AS double))) AS sy",
    )
    mi = "(sxy - sx - sy) / cast(n AS double) + ln(cast(n AS double))"
    return out.selectExpr(
        f"'{a}' AS col_a",
        f"'{b}' AS col_b",
        "coalesce(cast(n AS bigint), 0) AS n_joint",
        f"cast(CASE WHEN n > 0 THEN {ROUND6.format(x=mi)} END AS double) "
        "AS mutual_information",
    )


def mutual_information(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """MI for each column pair: (col_a, col_b, n_joint, mutual_information).

    ``mutual_information`` is NULL when no row has both values present.
    """
    if not pairs:
        raise ValueError("mutual_information: need at least one pair")
    out = None
    for a, b in pairs:
        p = _pair_mi(df, a, b)
        out = p if out is None else out.unionByName(p)
    return out


def mutual_information_sql(table: str, pairs: list[tuple[str, str]]) -> str:
    """DuckDB mirror: identical factored term expressions per pair."""
    parts = []
    for a, b in pairs:
        mi = "(sxy - sx - sy) / CAST(n AS DOUBLE) + ln(CAST(n AS DOUBLE))"
        parts.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b,
  COALESCE(CAST(n AS BIGINT), 0) AS n_joint,
  CAST(CASE WHEN n > 0 THEN {ROUND6.format(x=mi)} END AS DOUBLE) AS mutual_information
FROM (
  SELECT sum(nxy) AS n,
    sum(CAST(nxy AS DOUBLE) * ln(CAST(nxy AS DOUBLE))) AS sxy,
    sum(CAST(nxy AS DOUBLE) * ln(CAST(nx AS DOUBLE))) AS sx,
    sum(CAST(nxy AS DOUBLE) * ln(CAST(ny AS DOUBLE))) AS sy
  FROM (
    SELECT nxy,
      SUM(nxy) OVER (PARTITION BY x) AS nx,
      SUM(nxy) OVER (PARTITION BY y) AS ny
    FROM (
      SELECT {a} AS x, {b} AS y, COUNT(*) AS nxy FROM {table}
      WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY {a}, {b}
    )
  )
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)

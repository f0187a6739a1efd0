"""ANSI-SQL oracle generator for the profiler's metric semantics.

The oracle SQL in SURVEY.md §2.A is this engine's *contract*: for every
metric we emit, this module generates the equivalent ANSI SQL (DuckDB
dialect-compatible) over the same table. The expressions mirror the
engine's exactly — same decimal accumulation types, same expression shape
for the finishing double arithmetic — so results are bit-identical, not
merely close (see operators/scan_metrics.py "Determinism contract").

Only Entropy depends on libm's ln(), whose last-ulp behavior differs
between the JVM and C; it is the single metric compared after ROUND(_, 6)
on both sides (applied by the presentation wrapper in __spark_entry__).

Sketch metrics (ApproxCountDistinct, ApproxQuantiles) have no exact SQL
equivalent and are deliberately NOT generated here — their queries are
registered without an oracle (rows-only check).
"""

from __future__ import annotations

import os

NUM = "num"
TEXT = "text"

# Profiled columns of the driver testdata tables: (column, kind, spark type)
# kept static so oracle SQL strings are generated without a Spark session.
TABLE_COLUMNS: dict[str, list[tuple[str, str, str]]] = {
    "region": [("r_regionkey", NUM, "int"), ("r_name", TEXT, "string")],
    "nation": [
        ("n_nationkey", NUM, "int"),
        ("n_name", TEXT, "string"),
        ("n_regionkey", NUM, "int"),
    ],
    "customer": [
        ("c_custkey", NUM, "bigint"),
        ("c_name", TEXT, "string"),
        ("c_nationkey", NUM, "int"),
        ("c_acctbal", NUM, "double"),
        ("c_mktsegment", TEXT, "string"),
    ],
    "supplier": [
        ("s_suppkey", NUM, "bigint"),
        ("s_name", TEXT, "string"),
        ("s_nationkey", NUM, "int"),
        ("s_acctbal", NUM, "double"),
    ],
    "part": [
        ("p_partkey", NUM, "bigint"),
        ("p_name", TEXT, "string"),
        ("p_brand", TEXT, "string"),
        ("p_type", TEXT, "string"),
        ("p_size", NUM, "int"),
        ("p_retailprice", NUM, "double"),
    ],
    "orders": [
        ("o_orderkey", NUM, "bigint"),
        ("o_custkey", NUM, "bigint"),
        ("o_orderstatus", TEXT, "string"),
        ("o_totalprice", NUM, "double"),
        ("o_orderpriority", TEXT, "string"),
    ],
    "lineitem": [
        ("l_orderkey", NUM, "bigint"),
        ("l_partkey", NUM, "bigint"),
        ("l_suppkey", NUM, "bigint"),
        ("l_linenumber", NUM, "int"),
        ("l_quantity", NUM, "double"),
        ("l_extendedprice", NUM, "double"),
        ("l_discount", NUM, "double"),
        ("l_tax", NUM, "double"),
        ("l_returnflag", TEXT, "string"),
        ("l_linestatus", TEXT, "string"),
    ],
    "events": [
        ("event_id", NUM, "bigint"),
        ("user_id", NUM, "bigint"),
        ("event_type", TEXT, "string"),
        ("value", NUM, "double"),
        ("props", TEXT, "string"),
    ],
    "documents": [
        ("doc_id", NUM, "bigint"),
        ("text", TEXT, "string"),
        ("lang", TEXT, "string"),
        ("source", TEXT, "string"),
        ("n_chars", NUM, "bigint"),
    ],
    "embeddings": [("vec_id", NUM, "bigint"), ("label", NUM, "int")],
}

_SUM_DEC = "DECIMAL(27,6)"  # keep in sync with functions.rounding.SUM_DECIMAL
# Spark squares decimal(18,6) into decimal(37,12); DuckDB only widens a
# multiply to w1+w2, and with w=18 it tries the int64 kernel and overflows —
# width 19 forces the int128 kernel with result width exactly 38. The VALUES
# are identical (both exact 6-dp roundings of the input). The overflow
# ENVELOPE must also match Spark's try_cast (NULL at |v| >= 1e12, never a
# hard error — the guard CASE computes both branches' aggregates): square
# operands therefore TRY_CAST to DECIMAL(18,6) first, then widen to 19,6
# for the int128 kernel. Residual caveat (both engines): double->decimal
# conversion above ~9e9 can differ in the last 6-dp digit between engines.
_SQ_DEC = "DECIMAL(19,6)"


def sq_operand_sql(c: str) -> str:
    """DuckDB square operand matching Spark's try_cast(c AS decimal(18,6)):
    same NULL envelope, widened for the int128 multiply kernel. NaN is
    stripped first (see _nan_null: DuckDB TRY_CAST(NaN AS DECIMAL)
    hard-errors)."""
    return f"CAST(TRY_CAST({_nan_null(c)} AS DECIMAL(18,6)) AS {_SQ_DEC})"


def spark_percentile_edges_select(src: str, col: str, probs: list[float]) -> str:
    """DuckDB SELECT producing a one-row list column ``e`` that is
    BIT-IDENTICAL to Spark ``percentile({col}, array({probs}))`` over
    relation ``src``.

    DuckDB's ``quantile_cont`` is NOT that: both engines use the
    symmetric type-7 interpolation ``lo*(hi-pos) + hi*(pos-lo)``, but
    Spark's Percentile (sql/catalyst Percentile.scala) short-circuits
    ``if (higherKey == lowerKey) return lowerKey`` when both bracketing
    order statistics are the same repeated value k, while quantile_cont
    computes ``k*(hi-pos) + k*(pos-lo)`` — which can round 1 ulp BELOW
    k (observed at sf0.1: quality p=0.8 edge, 5 docs exactly at k, all
    flipped band under a ``> edge`` comparison).  Any oracle that uses a
    quantile as a raw set-membership boundary must use this mirror (or
    ROUND6 the edge on both sides); see SURVEY §5 determinism policy.

    The emitted arithmetic is exactly Spark's: pos = p * (n-1) with n
    BIGINT promoted to double, floor/ceil brackets, and the weighted sum
    in the same operand order — IEEE doubles make the results identical.
    NULLs are excluded as Spark's percentile does; on an EMPTY relation
    the whole list is NULL, matching Spark's NULL result (not
    [NULL, ...]).

    ORACLE-PATH ONLY: ``list_sort(list(col))`` materializes the whole
    column into one list value — O(n) memory in a single DuckDB row,
    unlike the streaming ``quantile_cont`` it replaces. Fine for the
    sf0.01/sf0.1 oracle comparisons this backs (and the only way to get
    bit-parity); never a pattern for the Spark side, whose scale default
    is percentile_approx (see tests/test_plans.py plan contract).
    """
    edges = []
    for p in probs:
        # CAST: DuckDB parses 0.6 as DECIMAL(2,1) and would compute the
        # position in exact decimal arithmetic; Spark's literal is a
        # double, so the position must be the IEEE product.
        pos = f"CAST({p!r} AS DOUBLE) * (n - 1)"
        lo = f"a[CAST(floor({pos}) AS BIGINT) + 1]"
        hi = f"a[CAST(ceil({pos}) AS BIGINT) + 1]"
        edges.append(
            f"CASE WHEN {lo} = {hi} THEN {lo} "
            f"ELSE {lo} * (ceil({pos}) - ({pos})) "
            f"+ {hi} * (({pos}) - floor({pos})) END"
        )
    return (
        f"SELECT CASE WHEN n = 0 THEN NULL ELSE [{', '.join(edges)}] END AS e "
        f"FROM (SELECT list_sort(list({col})) AS a, COUNT({col}) AS n "
        f"FROM {src} WHERE {col} IS NOT NULL)"
    )


def _row(entity: str, instance: str, name: str, value_sql: str, typ: str | None) -> str:
    t = "CAST(NULL AS VARCHAR)" if typ is None else f"'{typ}'"
    return (
        f"SELECT '{entity}' AS entity, '{instance}' AS instance, "
        f"'{name}' AS name, {value_sql} AS value, {t} AS type"
    )


def size_sql(table: str) -> str:
    return _row("Dataset", "*", "Size", "CAST(COUNT(*) AS DOUBLE)", None) + f" FROM {table}"


# Value-domain guards — keep in sync with scan_metrics.SUM_GUARD_SQL/SQ_GUARD_SQL.
# Inside the domain both engines take the bit-identical decimal branch; the
# fallback branch (plain IEEE aggregation) only exists for out-of-range data
# that the fixed testdata never contains.
_SUM_GUARD = "1e21"
_SQ_GUARD = "1e12"
# keep in sync with scan_metrics._FLOOR_SQL: columns entirely below the
# 6-dp resolution floor (0 < max|x| < 1e-3) take the IEEE branch instead of
# quantizing to zero.
_DEC_FLOOR = "1e-3"


def _nan_null(c: str) -> str:
    # DuckDB TRY_CAST(NaN AS DECIMAL) hard-errors instead of returning
    # NULL (unlike Spark's try_cast, and unlike DuckDB's own Inf
    # handling), so NaN is stripped to NULL before every decimal cast.
    # Semantics unchanged: the domain guard routes any NaN-containing
    # column to the IEEE fallback branch anyway (max(abs) = NaN fails the
    # `< limit` test in both engines); the strip only keeps the unused
    # decimal branch evaluable. isnan() is False for every non-float
    # numeric, so this is type-agnostic. (r8 float-specials axis find.)
    return f"CASE WHEN isnan({c}) THEN NULL ELSE {c} END"


def _sum_dec_raw(c: str) -> str:
    # TRY_CAST: Spark's twin is try_cast — both branches of the guard CASE
    # are computed as aggregates, so the decimal branch must not hard-error
    # on out-of-domain values in either engine.
    return f"CAST(SUM(TRY_CAST({_nan_null(c)} AS {_SUM_DEC})) AS DOUBLE)"


def _guarded(c: str, limit: str, dec_branch: str, fallback: str) -> str:
    m = f"MAX(ABS({c}))"
    return (
        f"CASE WHEN COALESCE({m} < {limit} AND ({m} >= {_DEC_FLOOR} OR {m} = 0), "
        f"FALSE) THEN {dec_branch} ELSE {fallback} END"
    )


def _sum_dec(c: str) -> str:
    return _guarded(c, _SUM_GUARD, _sum_dec_raw(c), f"SUM(CAST({c} AS DOUBLE))")


def _mean_sql(c: str) -> str:
    return _guarded(
        c,
        _SUM_GUARD,
        f"{_sum_dec_raw(c)} / NULLIF(COUNT({c}), 0)",
        f"AVG(CAST({c} AS DOUBLE))",
    )


def _stddev_sql(c: str) -> str:
    xd = sq_operand_sql(c)
    sx2 = f"CAST(SUM({xd} * {xd}) AS DOUBLE)"
    sx = _sum_dec_raw(c)
    n = f"CAST(COUNT({c}) AS DOUBLE)"
    # ROUND(_, 6): decimal->double of the scale-12 moment is double-rounded
    # in DuckDB vs single-rounded in the JVM; 6-dp comparison absorbs the
    # ulp — EXCEPT in the near-constant high-magnitude regime, where the
    # (sx2 - sx^2/n) cancellation amplifies it to ~sqrt(eps*m2) (e.g.
    # [1e6, 999999.999999] -> 0.0 vs 0.011). Below that floor single-pass
    # SD is numerical noise in any engine; the fixed testdata never enters
    # the regime, and tests/test_differential_profile.py encodes the bound.
    dec = (
        f"CASE WHEN COUNT({c}) > 0 THEN "
        f"SQRT(GREATEST(({sx2} - ({sx} * {sx}) / {n}) / {n}, 0.0)) END"
    )
    # Fallback parity on float specials AND huge finites: Spark
    # stddev_pop yields NaN when any NaN/±Inf is present OR when the
    # squared-moment computation overflows double (measured: [1e155, 5]
    # -> NaN), while DuckDB STDDEV_POP raises Out of Range in both
    # regimes — detect from the same MAX aggregates and emit NaN
    # directly (finite in-range out-of-domain values keep the
    # STDDEV_POP fallback). 1e154 ~ sqrt(DBL_MAX): above it the true
    # variance itself exceeds double range, so NaN is the only correct
    # answer in any engine; the +-2x boundary band around it (where
    # overflow depends on the mean/count) is outside the fuzz palette
    # by contract, like dec_domain (SURVEY §5). The STDDEV_POP
    # *argument* strips the same values to NULL: a CASE between
    # aggregates still EVALUATES both branches, so the aggregate itself
    # must never see one (its value is only used when none exist).
    cf = (
        f"CASE WHEN isnan(CAST({c} AS DOUBLE)) "
        f"OR ABS(CAST({c} AS DOUBLE)) >= 1.0e154 "
        f"THEN NULL ELSE CAST({c} AS DOUBLE) END"
    )
    fb = (
        f"CASE WHEN isnan(MAX(CAST({c} AS DOUBLE))) "
        f"OR MAX(ABS(CAST({c} AS DOUBLE))) >= 1.0e154 "
        f"THEN CAST('NaN' AS DOUBLE) "
        f"ELSE STDDEV_POP({cf}) END"
    )
    return f"ROUND({_guarded(c, _SQ_GUARD, dec, fb)}, 6)"


def scan_metric_rows(
    table: str, c: str, kind: str, typ: str, include_distinctness: bool = True
) -> list[str]:
    rows = [
        _row(
            "Column",
            c,
            "Completeness",
            f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)",
            typ,
        ),
    ]
    if include_distinctness:
        # every profiled column in every mode — reference parity
        rows.append(
            _row(
                "Column",
                c,
                "Distinctness",
                f"CAST(COUNT(DISTINCT {c}) AS DOUBLE) / NULLIF(COUNT({c}), 0)",
                typ,
            )
        )
    if kind == NUM:
        rows += [
            _row("Column", c, "Maximum", f"CAST(MAX({c}) AS DOUBLE)", typ),
            _row("Column", c, "Minimum", f"CAST(MIN({c}) AS DOUBLE)", typ),
            _row("Column", c, "Sum", _sum_dec(c), typ),
            _row("Column", c, "Mean", _mean_sql(c), typ),
            _row("Column", c, "StandardDeviation", _stddev_sql(c), typ),
        ]
    else:
        rows += [
            _row("Column", c, "MaxLength", f"CAST(MAX(LENGTH({c})) AS DOUBLE)", typ),
            _row("Column", c, "MinLength", f"CAST(MIN(LENGTH({c})) AS DOUBLE)", typ),
        ]
    return [r + f" FROM {table}" for r in rows]


def freq_metrics_sql(table: str, c: str, typ: str) -> str:
    """The four frequency scalars from one shared freq CTE (Entropy via
    H = ln(N) - sum(cnt ln cnt)/N, rounded to 6 dp — the one libm metric).
    Distinctness is emitted from the scan pass (scan_metric_rows)."""
    return f"""
WITH freq AS (SELECT {c} AS v, COUNT(*) AS cnt FROM {table} GROUP BY {c}),
s AS (
  SELECT
    CAST(COUNT(*) FILTER (WHERE v IS NOT NULL) AS DOUBLE) AS d,
    CAST(SUM(cnt) FILTER (WHERE v IS NOT NULL) AS DOUBLE) AS n,
    CAST(COUNT(*) FILTER (WHERE v IS NOT NULL AND cnt = 1) AS DOUBLE) AS u,
    CAST(SUM(cnt * LN(CAST(cnt AS DOUBLE))) FILTER (WHERE v IS NOT NULL) AS DOUBLE) AS clnc
  FROM freq)
SELECT * FROM (
  {_row("Column", c, "CountDistinct", "d", typ)} FROM s
  UNION ALL {_row("Column", c, "Entropy",
                  "ROUND(CASE WHEN n > 0 THEN LN(n) - clnc / n END, 6)", typ)} FROM s
  UNION ALL {_row("Column", c, "UniqueValueRatio", "u / d", typ)} FROM s
  UNION ALL {_row("Column", c, "Uniqueness", "u / n", typ)} FROM s
)"""


def histogram_sql(table: str, c: str, typ: str, n_bins: int, null_label: str = "NullValue") -> str:
    """Histogram.bins + top-k abs/ratio rows; ties broken (cnt DESC, label ASC)."""
    return f"""
WITH freq AS (
  SELECT COALESCE(CAST({c} AS VARCHAR), '{null_label}') AS label, COUNT(*) AS cnt
  FROM {table} GROUP BY {c}),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
               LEAST(COUNT(*), {n_bins}) AS bins FROM freq),
topk AS (SELECT label, cnt FROM freq ORDER BY cnt DESC, label ASC LIMIT {n_bins})
SELECT 'Column' AS entity, '{c}' AS instance, 'Histogram.bins' AS name,
       CAST(bins AS DOUBLE) AS value, '{typ}' AS type FROM tot
UNION ALL
SELECT 'Column', '{c}', 'Histogram.abs.' || label, CAST(cnt AS DOUBLE), '{typ}' FROM topk
UNION ALL
SELECT 'Column', '{c}', 'Histogram.ratio.' || label, cnt / (SELECT total FROM tot), '{typ}' FROM topk
"""


def profile_table_sql(
    table: str,
    expensive: bool = True,
    n_bins: int = 10,
    with_table_name: bool = False,
    from_sql: str | None = None,
) -> str:
    """Full oracle for profile_table on a testdata table (approx metrics
    excluded by design — they're checked rows-only). ``from_sql``
    optionally replaces the FROM relation (e.g. a filtered subquery)
    while keeping ``table``'s column inventory."""
    cols = TABLE_COLUMNS[table]
    rel = from_sql if from_sql is not None else table
    parts = [size_sql(rel)]
    for c, kind, typ in cols:
        parts += scan_metric_rows(rel, c, kind, typ)
        if expensive and kind == TEXT:
            parts.append(f"SELECT * FROM ({freq_metrics_sql(rel, c, typ)})")
            parts.append(f"SELECT * FROM ({histogram_sql(rel, c, typ, n_bins)})")
    body = "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)
    if with_table_name:
        return f"SELECT entity, instance, name, value, type, '{table}' AS table_name FROM ({body})"
    return body


def observed_profile_sql(table: str) -> str:
    """Oracle for the Observation-piggyback profile: the fused-scan surface
    minus Distinctness (observe() cannot carry DISTINCT aggregates) and
    minus sketches (rows-only by contract)."""
    parts = [size_sql(table)]
    for c, kind, typ in TABLE_COLUMNS[table]:
        parts += scan_metric_rows(table, c, kind, typ, include_distinctness=False)
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)


def approx_bounds_sql(table: str, n_quantiles: int = 10) -> str:
    """Oracle for operators.approx_bounds.approx_bounds_verdict: the
    sketch-vs-exact comparison happens INSIDE the Spark job (sketch
    estimates are engine-specific, so DuckDB cannot reproduce them); the
    oracle pins the metric INVENTORY — one row per sketch metric of the
    profiled surface, tracking schema mutation via TABLE_COLUMNS exactly
    like the hashed profiles — and the contract that every verdict is
    TRUE."""
    rows = []
    for c, kind, _typ in TABLE_COLUMNS[table]:
        rows.append(
            f"SELECT 'Column' AS entity, '{c}' AS instance, "
            f"'ApproxCountDistinct' AS name, TRUE AS within_bounds"
        )
        if kind == NUM:
            for i in range(1, n_quantiles + 1):
                p = i / n_quantiles
                rows.append(
                    f"SELECT 'Column', '{c}', 'ApproxQuantiles-{p!r}', TRUE"
                )
    return "\nUNION ALL\n".join(rows)


def profile_database_sql(expensive: bool = False, n_bins: int = 10) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT * FROM ({profile_table_sql(t, expensive, n_bins, with_table_name=True)})"
        for t in TABLE_COLUMNS
    )


def _tables_union_sql(tables, expensive: bool = False) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT * FROM ({profile_table_sql(t, expensive, with_table_name=True)})"
        for t in tables
    )


def publish_parquet_sql(tables, db: str, run_dt: str, run_ts: str) -> str:
    """Oracle for the parquet-sink round trip: the profiled metrics plus the
    constant provenance/partition columns the sink embeds
    (Main.scala:234-251 with the HH fix)."""
    return f"""
SELECT entity, instance, name, value, type,
  '{db}' AS db_name, table_name,
  '{db}' AS db_name_embed, table_name AS table_name_embed,
  '{run_dt}' AS run_dt, '{run_ts}' AS run_ts
FROM ({_tables_union_sql(tables)})
"""


def catalog_params_sql(tables, prefix: str) -> str:
    """Oracle for the catalog parameter sink: every metric becomes one
    parameter row keyed ``<prefix><Metric>`` — Dataset rows at table scope
    (instance '*'), Column rows at column scope (Glue.java:44-151)."""
    return f"""
SELECT table_name,
  CASE WHEN entity = 'Dataset' THEN 'table' ELSE 'column' END AS scope,
  instance,
  '{prefix}' || name AS param_key,
  value AS param_value
FROM ({_tables_union_sql(tables)})
"""


def windowed_profile_sql(table: str, ts_col: str) -> str:
    """Oracle for streaming.windowed_profile with 1-day tumbling windows:
    every branch of the fused grouped agg as a GROUP BY date_trunc('day')
    (Spark's epoch-aligned day window == DuckDB's day truncation), window
    bounds formatted as strings."""
    w = (
        f"(SELECT *, date_trunc('day', {ts_col}) AS ws FROM {table} "
        f"WHERE {ts_col} IS NOT NULL)"
    )
    branches = [
        _row("Dataset", "*", "Size", "CAST(COUNT(*) AS DOUBLE)", None)
        + ", ws FROM w GROUP BY ws"
    ]

    def add(entity, instance, name, value_sql, typ):
        branches.append(
            _row(entity, instance, name, value_sql, typ)
            + ", ws FROM w GROUP BY ws"
        )

    for c, kind, typ in TABLE_COLUMNS[table]:
        add("Column", c, "Completeness",
            f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)", typ)
        if kind == NUM:
            add("Column", c, "Maximum", f"CAST(MAX({c}) AS DOUBLE)", typ)
            add("Column", c, "Minimum", f"CAST(MIN({c}) AS DOUBLE)", typ)
            add("Column", c, "Sum", _sum_dec(c), typ)
            add("Column", c, "Mean", _mean_sql(c), typ)
            add("Column", c, "StandardDeviation", _stddev_sql(c), typ)
        else:
            add("Column", c, "MaxLength",
                f"CAST(MAX(LENGTH({c})) AS DOUBLE)", typ)
            add("Column", c, "MinLength",
                f"CAST(MIN(LENGTH({c})) AS DOUBLE)", typ)
    body = "\nUNION ALL\n".join(branches)
    return f"""
WITH w AS (SELECT * FROM {w})
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS window_end,
       entity, instance, name, value, type
FROM ({body})
"""


# Columns the engine profiles only under profile_unsupported_types (+
# profile_timestamps): cast to string, then treated as text. The engine
# reports the post-cast type ('string') in the type column.
CONVERT_COLUMNS: dict[str, list[str]] = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def _classify_arrow(t) -> tuple[str | None, str | None]:
    """(kind, spark simpleString) for a pyarrow type — the oracle-side
    mirror of operators.types.classify over what Spark reads from the same
    parquet footer.  kind: NUM / TEXT / 'convert' / None (skipped, e.g.
    list/struct/binary — matching the engine's no-else skip)."""
    import pyarrow.types as pat

    if pat.is_string(t) or pat.is_large_string(t):
        return TEXT, "string"
    for pred, s in (
        (pat.is_int8, "tinyint"), (pat.is_int16, "smallint"),
        (pat.is_int32, "int"), (pat.is_int64, "bigint"),
        (pat.is_float32, "float"), (pat.is_float64, "double"),
    ):
        if pred(t):
            return NUM, s
    if pat.is_decimal(t):
        return NUM, f"decimal({t.precision},{t.scale})"
    if pat.is_boolean(t):
        return "convert", "boolean"
    if pat.is_date(t):
        return "convert", "date"
    if pat.is_timestamp(t):
        return "convert", "timestamp"
    return None, None


def derive_schema_columns(
    sf_dir: str,
) -> tuple[dict[str, list[tuple[str, str, str]]], dict[str, list[str]]]:
    """Re-derive (TABLE_COLUMNS, CONVERT_COLUMNS) from the parquet footers
    in ``sf_dir`` — driver-side metadata only, no Spark session.

    The static dicts above pin the canonical testdata schema so oracle SQL
    generates without any I/O; this derivation exists for the SCHEMA-
    MUTATION fuzz axis (scripts/fuzz_correctness.py --schema): when
    ``SPARK_GRAFT_ORACLE_SCHEMA_DIR`` is set, the oracle inventory tracks
    whatever columns the mutated files actually carry, exactly as the
    engine's profile operators do from ``df.schema`` — so dropped/renamed/
    retyped/added columns keep both sides comparable.  Parity of this
    derivation with the static dicts on the unmutated testdata is pinned
    by tests/test_schema_fuzz.py."""
    import pyarrow.parquet as pq

    table_cols: dict[str, list[tuple[str, str, str]]] = {}
    convert_cols: dict[str, list[str]] = {}
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # a sharded table (directory of part files): the shards share
            # one schema by construction (a single COPY/write produced
            # them), so the first footer suffices
            parts = sorted(
                p for p in os.listdir(path) if p.endswith(".parquet")
            )
            if not parts:
                raise FileNotFoundError(
                    f"no .parquet parts in directory table {path}"
                )
            path = os.path.join(path, parts[0])
        schema = pq.read_schema(path)
        cols: list[tuple[str, str, str]] = []
        conv: list[str] = []
        for f in schema:
            kind, sstr = _classify_arrow(f.type)
            if kind in (NUM, TEXT):
                cols.append((f.name, kind, sstr))
            elif kind == "convert":
                conv.append(f.name)
        table_cols[t] = cols
        if conv:
            convert_cols[t] = conv
    return table_cols, convert_cols


_SCHEMA_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SCHEMA_DIR")
if _SCHEMA_DIR:
    TABLE_COLUMNS, CONVERT_COLUMNS = derive_schema_columns(_SCHEMA_DIR)


def profile_table_typed_sql(table: str) -> str:
    """Oracle for the profile_unsupported_types=True path: the base default
    profile plus each convertible column profiled as text over its VARCHAR
    cast (types.cast_convertibles)."""
    parts = [profile_table_sql(table, expensive=False)]
    for c in CONVERT_COLUMNS.get(table, []):
        expr = f"CAST({c} AS VARCHAR)"
        rows = [
            _row(
                "Column", c, "Completeness",
                f"CAST(COUNT({expr}) AS DOUBLE) / COUNT(*)", "string",
            ),
            _row(
                "Column", c, "Distinctness",
                f"CAST(COUNT(DISTINCT {expr}) AS DOUBLE) / "
                f"NULLIF(COUNT({expr}), 0)", "string",
            ),
            _row(
                "Column", c, "MaxLength",
                f"CAST(MAX(LENGTH({expr})) AS DOUBLE)", "string",
            ),
            _row(
                "Column", c, "MinLength",
                f"CAST(MIN(LENGTH({expr})) AS DOUBLE)", "string",
            ),
        ]
        parts += [r + f" FROM {table}" for r in rows]
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p})" for p in parts)


def grouped_profile_sql(table: str, group_col: str) -> str:
    """Oracle for operators.grouped_profile: every fused-scan metric
    branch as a GROUP BY over the segment column (profiled columns
    exclude the key; NULL keys form their own segment)."""
    branches = [
        _row("Dataset", "*", "Size", "CAST(COUNT(*) AS DOUBLE)", None)
        + ", gv FROM g GROUP BY gv"
    ]

    def add(entity, instance, name, value_sql, typ):
        branches.append(
            _row(entity, instance, name, value_sql, typ)
            + ", gv FROM g GROUP BY gv"
        )

    for c, kind, typ in TABLE_COLUMNS[table]:
        if c == group_col:
            continue
        add("Column", c, "Completeness",
            f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)", typ)
        if kind == NUM:
            add("Column", c, "Maximum", f"CAST(MAX({c}) AS DOUBLE)", typ)
            add("Column", c, "Minimum", f"CAST(MIN({c}) AS DOUBLE)", typ)
            add("Column", c, "Sum", _sum_dec(c), typ)
            add("Column", c, "Mean", _mean_sql(c), typ)
            add("Column", c, "StandardDeviation", _stddev_sql(c), typ)
        else:
            add("Column", c, "MaxLength",
                f"CAST(MAX(LENGTH({c})) AS DOUBLE)", typ)
            add("Column", c, "MinLength",
                f"CAST(MIN(LENGTH({c})) AS DOUBLE)", typ)
    body = "\nUNION ALL\n".join(branches)
    return f"""
WITH g AS (SELECT *, CAST({group_col} AS VARCHAR) AS gv FROM {table})
SELECT gv AS group_value, entity, instance, name, value, type
FROM ({body})
"""


def rollup_profile_sql(table: str, group_col: str) -> str:
    """Oracle for operators.rollup_profile: the grouped profile UNION the
    all-rows level labeled '<all>' (same metric set, key excluded)."""
    branches = [
        _row("Dataset", "*", "Size", "CAST(COUNT(*) AS DOUBLE)", None)
        + f" FROM {table}"
    ]

    def add(entity, instance, name, value_sql, typ):
        branches.append(
            _row(entity, instance, name, value_sql, typ) + f" FROM {table}"
        )

    for c, kind, typ in TABLE_COLUMNS[table]:
        if c == group_col:
            continue
        add("Column", c, "Completeness",
            f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)", typ)
        if kind == NUM:
            add("Column", c, "Maximum", f"CAST(MAX({c}) AS DOUBLE)", typ)
            add("Column", c, "Minimum", f"CAST(MIN({c}) AS DOUBLE)", typ)
            add("Column", c, "Sum", _sum_dec(c), typ)
            add("Column", c, "Mean", _mean_sql(c), typ)
            add("Column", c, "StandardDeviation", _stddev_sql(c), typ)
        else:
            add("Column", c, "MaxLength",
                f"CAST(MAX(LENGTH({c})) AS DOUBLE)", typ)
            add("Column", c, "MinLength",
                f"CAST(MIN(LENGTH({c})) AS DOUBLE)", typ)
    total = "\nUNION ALL\n".join(branches)
    return f"""
SELECT * FROM ({grouped_profile_sql(table, group_col)})
UNION ALL
SELECT '<all>' AS group_value, entity, instance, name, value, type
FROM ({total})
"""


def cube_profile_sql(table: str, col_a: str, col_b: str) -> str:
    """Oracle for operators.cube_profile: each metric branch runs GROUP BY
    CUBE(ga, gb) (DuckDB native), grouped-out levels labeled '<all>'."""
    keys = (
        "CASE WHEN GROUPING(ga) = 1 THEN '<all>' ELSE ga END AS group_a, "
        "CASE WHEN GROUPING(gb) = 1 THEN '<all>' ELSE gb END AS group_b"
    )
    branches = [
        _row("Dataset", "*", "Size", "CAST(COUNT(*) AS DOUBLE)", None)
        + f", {keys} FROM g GROUP BY CUBE (ga, gb)"
    ]

    def add(entity, instance, name, value_sql, typ):
        branches.append(
            _row(entity, instance, name, value_sql, typ)
            + f", {keys} FROM g GROUP BY CUBE (ga, gb)"
        )

    for c, kind, typ in TABLE_COLUMNS[table]:
        if c in (col_a, col_b):
            continue
        add("Column", c, "Completeness",
            f"CAST(COUNT({c}) AS DOUBLE) / COUNT(*)", typ)
        if kind == NUM:
            add("Column", c, "Maximum", f"CAST(MAX({c}) AS DOUBLE)", typ)
            add("Column", c, "Minimum", f"CAST(MIN({c}) AS DOUBLE)", typ)
            add("Column", c, "Sum", _sum_dec(c), typ)
            add("Column", c, "Mean", _mean_sql(c), typ)
            add("Column", c, "StandardDeviation", _stddev_sql(c), typ)
        else:
            add("Column", c, "MaxLength",
                f"CAST(MAX(LENGTH({c})) AS DOUBLE)", typ)
            add("Column", c, "MinLength",
                f"CAST(MIN(LENGTH({c})) AS DOUBLE)", typ)
    body = "\nUNION ALL\n".join(branches)
    return f"""
WITH g AS (
  SELECT *, CAST({col_a} AS VARCHAR) AS ga, CAST({col_b} AS VARCHAR) AS gb
  FROM {table}
)
SELECT group_a, group_b, entity, instance, name, value, type
FROM ({body})
"""

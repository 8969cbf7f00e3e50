"""Relational re-expressions + training-data operators.

Every public function here is ``(spark, sf_dir) -> DataFrame`` and has a
matching DuckDB oracle SQL string (collected by __spark_entry__.py), with
identical column names and explicit rounding/decimal discipline so the
driver's order-insensitive value-hash comparison is exact:

- money/values are summed as DECIMAL(18,x) (exact, order-independent)
  and only converted to rounded DOUBLE at the end
- floating ratios are rounded to 6 dp
- every top-k / argmax has a total deterministic tie-break
- timestamps are returned as epoch seconds (BIGINT)
"""

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def respread(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """Unlock cores for SPLIT-STARVED scans feeding hash-heavy map work.

    A map-heavy projection (per-k-gram md5, shingle explode) runs at
    the SCAN's parallelism: a small single-file corpus yields 1-2
    parquet row-group splits, serializing the expensive stage on 2 of
    32 cores — measured at the sf1eq point fingerprint_winnow spent
    34.9 s on 2 tasks and 1.9 s after one round-robin redistribution
    of the raw rows (finding #36).  At corpus scale the source
    provides orders of magnitude more splits than cores, so this is a
    structural NO-OP there — the condition compares the planned scan
    partitions against the cluster's parallelism and only then pays
    one exchange of the raw input (bytes the expensive stage was going
    to read anyway, redistributed once, round-robin — no key, no
    skew).  Values are unaffected: every consumer aggregates or
    windows with total tie-breaks downstream.

    ``min_bytes`` is a per-op calibration for LIGHT per-byte compute:
    the exchange only pays off when each unlocked core gets enough
    work.  winnow's md5-per-character is ~100x heavier per input byte
    than an embedding dot pass, so winnow wins from respread even on a
    0.5 MB input while embedding_cosine_dedup needs ~tens of MB
    (measured: sf0.1 520 KB embeddings 2.35 -> 4.28 s WORSE, sf1eq
    52 MB 7.4 -> 4.5 s better — finding #36).  Ops pass the floor
    their own A/B justifies; default 0 keeps the hash-heavy text ops
    unconditional below the parallelism test.

    Starvation counts the splits that hold work:
    ``min(scan splits, row groups in the input footers) < parallelism``.
    A parquet row group is read whole by the one split holding its
    midpoint, so a file with fewer row groups than cores starves the
    stage however many byte splits Spark cuts it into (a 26 MB file of
    two row groups: four splits, two busy).  Footers are read only
    until the count reaches the parallelism, where the rule can no
    longer fire — at most ``par`` footer reads on any corpus.  Input
    that is not parquet has no row groups to count and keeps the split
    test alone.  The input must be a scan (plus narrow projections and
    filters): after an exchange the partitions no longer map to row
    groups.

    Sizes and footers resolve through the Hadoop FileSystem of each
    input URI — the one Spark read the scan through — so remote inputs
    (hdfs, s3a, ...) get the same decision as local ones.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if min_bytes:
        from py4j.protocol import Py4JJavaError

        try:
            size = _input_bytes(spark, files, min_bytes)
        except Py4JJavaError:
            # unknown-size source: when a floor was requested, DON'T
            # respread — falling through to the split test would land
            # tiny inputs in exactly the measured-regression regime the
            # floor exists to avoid (ADVICE r05)
            return df
        if size < min_bytes:
            return df
    if df.rdd.getNumPartitions() < par or _row_groups(spark, files, par) < par:
        return df.repartition(par)
    return df


def _hadoop_statuses(spark: SparkSession, files: list[str]):
    """Hadoop ``FileStatus`` of each input URI, lazily."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        yield path.getFileSystem(conf).getFileStatus(path)


def _input_bytes(spark: SparkSession, files: list[str], enough: int) -> int:
    """Summed size of ``files``; stops once it reaches ``enough``."""
    size = 0
    for st in _hadoop_statuses(spark, files):
        size += st.getLen()
        if size >= enough:
            break
    return size


def _row_groups(spark: SparkSession, files: list[str], enough: int) -> int:
    """Parquet row groups over ``files``, counted from their footers
    until the count reaches ``enough``; ``enough`` when the footers
    cannot be read (not parquet) or there are none (in-memory input),
    so the row-group rule stays out."""
    from py4j.protocol import Py4JJavaError

    if not files:
        return enough
    hadoop = spark._jvm.org.apache.parquet.hadoop
    conf = spark._jsc.hadoopConfiguration()
    n = 0
    try:
        for st in _hadoop_statuses(spark, files):
            if n >= enough:
                break
            reader = hadoop.ParquetFileReader.open(
                hadoop.util.HadoopInputFile.fromStatus(st, conf)
            )
            try:
                n += reader.getRowGroups().size()
            finally:
                reader.close()
    except Py4JJavaError:
        return enough
    return n


def scaled_long(c: Column, scale: float) -> Column:
    """Exact, order-independent sum discipline: fix-point the per-row
    double as ``floor(x * scale)`` (a LONG) before aggregating.

    Long sums are exact and order-independent like decimals, but stay on
    whole-stage codegen's primitive fast path — Spark's Decimal sum drops
    to BigDecimal object arithmetic per row, which runs ~20x slower until
    C2 JIT-compiles the generated loop (observed: a 600k-row decimal Q1
    spending 60s interpreted after an unrelated Python stage congested
    the compiler queue).  ``floor`` (not cast) because Spark truncates
    toward zero while DuckDB rounds half-even; floor is identical in
    both engines.
    """
    return F.floor(c * F.lit(scale))


def scaled_sum(c: Column, scale: float, digits: int) -> Column:
    """round(cast(sum(floor(c*scale)) as double) / scale, digits).

    Known residual hazard (verified absent for every query at sf0.001/
    0.01/0.1): when the quotient's decimal repr lands EXACTLY on a
    half-digit boundary, Spark's round (HALF_UP on the shortest decimal
    repr) and DuckDB's round (on the binary double) can differ by one
    ulp of the last digit.  Where a tie actually occurred
    (textstats.quality_score at sf0.1) the fix is the
    ``floor(x * 10^d + 0.5) / 10^d`` pattern on both sides — floor on a
    bit-identical double is exact in both engines (positive values
    only; negatives need a sign-aware CASE).
    """
    return F.round(
        F.sum(scaled_long(c, scale)).cast("double") / F.lit(scale), digits
    )


def scaled_sum_sql(expr: str, scale: str, digits: int) -> str:
    """The DuckDB-side mirror of ``scaled_sum``."""
    return f"round(CAST(sum(CAST(floor(({expr}) * {scale}) AS BIGINT)) AS DOUBLE) / {scale}, {digits})"


def sql_literal(v, typ: str) -> str:
    """Render one Python scalar as a type-faithful DuckDB literal.

    Floats go through CAST('repr' AS DOUBLE): repr round-trips the exact
    binary double, and the cast keeps DuckDB from typing '0.5' as
    DECIMAL (which pandas would then materialize differently from
    Spark's double).  Ints stay bare so they never pick up a trailing
    '.0' in the driver's pandas canon.
    """
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "DOUBLE":
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if typ == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    if typ == "VARCHAR":
        s = str(v).replace("'", "''")
        return f"'{s}'"
    return str(int(v))


def values_oracle(cols: list[tuple[str, str]], rows: list[dict]) -> str:
    """Build a self-contained DuckDB oracle from precomputed expected
    rows: ``SELECT * FROM (VALUES ...) t(col, ...)``.

    Used for queries whose inputs are deterministic synthesized payloads
    (seeded media / invoice corpora) that never reach the DuckDB views:
    the expected outputs are computed sequentially by an INDEPENDENT
    code path (pure-Python feature math or the golden kernel) and frozen
    into the SQL, so the driver's hash gate covers them like any other
    query (VERDICT r01 item 2).
    """
    if not rows:
        body = ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in cols)
        return f"SELECT {body} WHERE FALSE"
    vals = ",\n".join(
        "(" + ", ".join(sql_literal(r[c], t) for c, t in cols) + ")"
        for r in rows
    )
    names = ", ".join(c for c, _ in cols)
    return f"SELECT * FROM (VALUES\n{vals}\n) AS t({names})"

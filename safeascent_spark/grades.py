"""K14 grade parsing — Python mirror + broadcast lookup-dimension builder.

The Column-expression parser in ``kernels.parse_grade`` is exact but
enormous (~150 CASE branches); composing it over derived grade columns blows
whole-stage codegen past the JVM method limit and Spark silently falls back
to interpreted evaluation.  The scalable form (SURVEY.md §7 hard part (b))
is a *lookup table*: parse the distinct grade strings once (they are
low-cardinality by nature) and broadcast-join the difficulty.

Reference: backend/app/services/grade_weighting.py:28-199.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config as C


def parse_yds(grade: str) -> float | None:
    g = grade.strip().lower()
    if g in C.YDS_GRADES:
        return float(C.YDS_GRADES[g])
    if g.endswith("+") and g[:-1] in C.YDS_GRADES:
        return float(C.YDS_GRADES[g[:-1]]) + 0.25
    if g.endswith("-") and g[:-1] in C.YDS_GRADES:
        return float(C.YDS_GRADES[g[:-1]]) - 0.25
    if "/" in g:
        parts = g.split("/")
        if len(parts) == 2:
            first = parse_yds(parts[0])
            m = re.match(r"(5\.\d+)", parts[0])
            if m and first is not None:
                second = parse_yds(m.group(1) + parts[1])
                if second is not None:
                    return (first + second) / 2
    return None


def py_parse_grade(grade: str | None) -> float | None:
    """Python port of the reference's parse_grade (grade_weighting.py:152-199)."""
    if not grade:
        return None
    g = grade.strip()
    if not g:
        return None
    if g.lower().startswith("5."):
        r = parse_yds(g)
        if r is not None:
            return r
    gu = g.upper()
    if gu.startswith("V"):
        m = re.match(r"V(\d+)", gu)
        if m:
            return C.V_SCALE_OFFSET + int(m.group(1)) * C.V_SCALE_MULTIPLIER
        if gu == "VB":
            return C.V_SCALE_OFFSET - 0.5
    m = re.match(r"WI(\d+)", gu)
    if m:
        return 6.0 + (int(m.group(1)) - 1) * 1.2
    m = re.match(r"AI(\d+)", gu)
    if m:
        return 7.0 + (int(m.group(1)) - 1) * 1.4
    m = re.match(r"M(\d+)", gu)
    if m:
        return 7.0 + (int(m.group(1)) - 1) * 0.6
    if len(g) >= 2 and g[1].isdigit():
        m = re.match(r"A(\d+)", gu)
        if m:
            return 8.0 + int(m.group(1)) * 1.2
        m = re.match(r"C(\d+)", gu)
        if m:
            return 8.0 + int(m.group(1)) * 1.2
    return parse_yds("5." + g.lower())


def domain_grade_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized grade dimension over the domain's two grade sources
    (routes + accidents).  The distinct-collect runs once per (session, sf)."""
    from . import domain

    def build():
        r = domain.routes_df(spark, sf_dir).select("grade")
        a = domain.accidents_df(spark, sf_dir).select("grade")
        distinct = [x[0] for x in r.union(a).distinct().collect()
                    if x[0] is not None]
        rows = [(g, py_parse_grade(g)) for g in sorted(distinct)]
        return domain.local_frame(
            spark, rows, "grade string, difficulty double").cache()
    return domain.session_memo(spark, "grade_dim", sf_dir, build)


def grade_difficulty_join(df: DataFrame, grade_col: str, out_col: str,
                          dim: DataFrame | None = None) -> DataFrame:
    """Attach parsed difficulty via a broadcast lookup of distinct grades.

    One cheap distinct-aggregate job builds the dimension (grades are
    low-cardinality regardless of table size), then a broadcast hash join
    attaches the difficulty — keeping the big scan inside codegen instead of
    a 150-branch CASE per row.
    """
    spark = df.sparkSession
    if dim is None:
        distinct = [r[0] for r in df.select(grade_col).distinct().collect()
                    if r[0] is not None]
        rows = [(g, py_parse_grade(g)) for g in distinct]
        if not rows:
            return df.withColumn(out_col, F.lit(None).cast("double"))
        from . import domain
        dim = domain.local_frame(spark, rows, "grade string, difficulty double")
    dim = dim.select(F.col("grade").alias(grade_col),
                     F.col("difficulty").alias(out_col))
    return df.join(F.broadcast(dim), grade_col, "left")

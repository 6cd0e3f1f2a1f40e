"""Extended scalar function coverage (SURVEY.md §2B.5/8): edit
distance, string splitting and padding, calendar arithmetic, VARIANT
JSON. The RANGE-frame, distribution-rank and least/greatest entries
are SQL entries in ``parquet_export_spark.queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def string_funcs_extra(t: dict[str, DataFrame]) -> DataFrame:
    """levenshtein / split_part / translate / lpad / locate family."""
    return (
        t["customer"]
        .select(
            "c_custkey",
            F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev_building"),
            F.split_part("c_name", F.lit("_"), F.lit(1)).alias("name_head"),
            F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_lower_vowels"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
            F.instr("c_mktsegment", "U").alias("u_pos"),
            F.reverse("c_mktsegment").alias("seg_rev"),
        )
        .orderBy("c_custkey")
    )


def date_funcs_extra(t: dict[str, DataFrame]) -> DataFrame:
    """add_months / last_day / dayofweek / weekofyear / make_date."""
    return (
        t["orders"]
        .select(
            "o_orderkey",
            F.add_months(F.col("o_orderdate").cast("date"), 2).alias("plus_2_months"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.weekofyear("o_orderdate").alias("iso_week"),
            F.make_date(
                F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1)
            ).alias("month_start"),
        )
        .orderBy("o_orderkey")
    )


def variant_json_funcs(t: dict[str, DataFrame]) -> DataFrame:
    """Spark-4 VARIANT path for JSON columns: ``parse_json`` once into
    the binary variant encoding, then typed ``try_variant_get`` reads.

    The semantic twin of ``relational.scalar_json_funcs`` with a
    different physical story: ``get_json_object`` re-parses the JSON
    text on every access, while a variant column is parsed once and
    field reads are O(1) over the shredded binary — at 100 TB of
    jsonb-as-text exports (reference main.py:125-127 makes ALL jsonb
    text) the parse-once path is the difference between one scan and
    one-scan-per-extracted-field of CPU. Values are identical to the
    text path, so the DuckDB oracle is plain json_extract.
    """
    e = t["events"]
    v = e.select(
        "event_id", "event_type", F.parse_json("props").alias("v")
    )
    k = F.try_variant_get("v", "$.k", "long")
    return (
        v.select("event_id", "event_type", k.alias("prop_k"))
        .filter(F.col("prop_k") > 90)
        .orderBy("event_id")
    )

"""dim_npi / dim_npi_address builders from raw NPPES API payloads.

Spark mapping of the reference's NPPES normalization + dim upserts
(utils_nppes.py:127-189 `_extract_dim_npi_row`/`_extract_addresses`,
:291-323 `upsert_dim_npi`/`upsert_dim_npi_address`): the reference walks
one JSON dict per NPI in Python; here the payloads are a DataFrame column
parsed with `from_json`, and every extraction — primary-taxonomy
selection, address explosion, phone cleaning, the stable address_hash —
is a native Column expression, so normalizing 100M cached payloads is one
codegen pass with no Python in the loop.

The output tables feed `StarLake` (plans/queries.py joins dim_npi on npi
and dim_npi_address on LOCATION rows) — write them into the lake dir
under `dim_npi` / `dim_npi_address` and `StarLake.load` picks them up.
"""

from __future__ import annotations

import json
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mrf_etl_spark.functions.hashing import address_hash

# Subset of the NPPES v2.1 response actually consumed (utils_nppes.py
# reads exactly these fields); from_json ignores any extra keys.
NPPES_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("result_count", T.LongType()),
        T.StructField(
            "results",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("enumeration_type", T.StringType()),
                        T.StructField(
                            "basic",
                            T.StructType(
                                [
                                    T.StructField("organization_name", T.StringType()),
                                    T.StructField("first_name", T.StringType()),
                                    T.StructField("last_name", T.StringType()),
                                    T.StructField("credential", T.StringType()),
                                    T.StructField("status", T.StringType()),
                                    T.StructField("sole_proprietor", T.StringType()),
                                    T.StructField("enumeration_date", T.StringType()),
                                    T.StructField("last_updated", T.StringType()),
                                    T.StructField("replacement_npi", T.StringType()),
                                ]
                            ),
                        ),
                        T.StructField(
                            "addresses",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("address_purpose", T.StringType()),
                                        T.StructField("address_type", T.StringType()),
                                        T.StructField("address_1", T.StringType()),
                                        T.StructField("address_2", T.StringType()),
                                        T.StructField("city", T.StringType()),
                                        T.StructField("state", T.StringType()),
                                        T.StructField("postal_code", T.StringType()),
                                        T.StructField("country_code", T.StringType()),
                                        T.StructField("telephone_number", T.StringType()),
                                        T.StructField("fax_number", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                        T.StructField(
                            "taxonomies",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("code", T.StringType()),
                                        T.StructField("desc", T.StringType()),
                                        T.StructField("state", T.StringType()),
                                        T.StructField("license", T.StringType()),
                                        T.StructField("primary", T.BooleanType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)


def _phone_clean(col: Column) -> Column:
    """Digits only, empty → null (utils_nppes.py:70-74)."""
    return F.nullif(F.regexp_replace(F.coalesce(col, F.lit("")), "[^0-9]", ""), F.lit(""))


def _parsed(df: DataFrame, npi_col: str, payload_col: str) -> DataFrame:
    rec = F.element_at(F.from_json(F.col(payload_col), NPPES_PAYLOAD_SCHEMA)["results"], 1)
    return df.select(F.col(npi_col).cast("string").alias("npi"), rec.alias("_rec")).filter(
        F.col("_rec").isNotNull()
    )


def dim_npi_from_payloads(
    df: DataFrame,
    npi_col: str = "npi",
    payload_col: str = "payload_json",
    nppes_fetched: bool = True,
) -> DataFrame:
    """One dim_npi row per NPI payload (utils_nppes.py:127-157).

    Primary taxonomy = first with primary=true, else the first taxonomy
    (`_extract_primary_taxonomy`) — expressed as
    coalesce(filter(tax, primary)[1], tax[1])."""
    p = _parsed(df, npi_col, payload_col)
    basic = F.col("_rec")["basic"]
    tax = F.col("_rec")["taxonomies"]
    prim = F.coalesce(
        F.element_at(F.filter(tax, lambda t: F.coalesce(t["primary"], F.lit(False))), 1),
        F.element_at(tax, 1),
    )
    staged = p.withColumn("_prim", prim)  # staged: referenced 4x below
    return staged.select(
        "npi",
        F.col("_rec")["enumeration_type"].alias("enumeration_type"),
        basic["status"].alias("status"),
        basic["organization_name"].alias("organization_name"),
        basic["first_name"].alias("first_name"),
        basic["last_name"].alias("last_name"),
        basic["credential"].alias("credential"),
        basic["sole_proprietor"].alias("sole_proprietor"),
        basic["enumeration_date"].alias("enumeration_date"),
        basic["last_updated"].alias("last_updated"),
        basic["replacement_npi"].alias("replacement_npi"),
        F.lit(nppes_fetched).alias("nppes_fetched"),
        (basic["last_updated"] if nppes_fetched else F.lit(None).cast("string")).alias(
            "nppes_fetch_date"
        ),
        F.col("_prim")["code"].alias("primary_taxonomy_code"),
        F.col("_prim")["desc"].alias("primary_taxonomy_desc"),
        F.col("_prim")["state"].alias("primary_taxonomy_state"),
        F.col("_prim")["license"].alias("primary_taxonomy_license"),
    )


def dim_npi_address_from_payloads(
    df: DataFrame,
    npi_col: str = "npi",
    payload_col: str = "payload_json",
) -> DataFrame:
    """One row per (NPI, address) with the stable address_hash dedup key
    (utils_nppes.py:159-189): md5 of the 8 identity fields joined with
    '|' after null→''. NPIs with no addresses emit no rows (explode skips
    empty arrays), matching the reference's empty-frame branch."""
    p = _parsed(df, npi_col, payload_col)
    a = F.col("_a")
    exploded = p.select(
        "npi",
        F.col("_rec")["basic"]["last_updated"].alias("last_updated"),
        F.explode(F.col("_rec")["addresses"]).alias("_a"),
    )
    return exploded.select(
        "npi",
        a["address_purpose"].alias("address_purpose"),
        a["address_type"].alias("address_type"),
        a["address_1"].alias("address_1"),
        a["address_2"].alias("address_2"),
        a["city"].alias("city"),
        a["state"].alias("state"),
        a["postal_code"].alias("postal_code"),
        a["country_code"].alias("country_code"),
        _phone_clean(a["telephone_number"]).alias("telephone_number"),
        _phone_clean(a["fax_number"]).alias("fax_number"),
        "last_updated",
        address_hash(
            a["address_purpose"],
            a["address_type"],
            a["address_1"],
            a["address_2"],
            a["city"],
            a["state"],
            a["postal_code"],
            a["country_code"],
        ).alias("address_hash"),
    )


DIM_NPI_KEYS = ["npi"]
DIM_NPI_ADDRESS_KEYS = ["npi", "address_purpose", "address_hash"]


def build_npi_dims(
    spark: SparkSession,
    payloads: DataFrame,
    lake_dir: str,
    npi_col: str = "npi",
    payload_col: str = "payload_json",
    nppes_fetched: bool = True,
    refresh: bool = False,
) -> dict[str, int]:
    """Normalize payloads and upsert both dim tables into ``lake_dir``.

    refresh=False → append-unique (new keys only; the reference's
    anti-join + keep-existing path, utils_nppes.py:255-289).
    refresh=True → latest-merge (newest last_updated wins per key; the
    reference's big-table DuckDB merge, utils_nppes.py:215-253).

    Table names match what StarLake.load expects. Returns row counts."""
    from mrf_etl_spark.io.writers import latest_merge, upsert_by_key, write_star_tables

    dim = dim_npi_from_payloads(payloads, npi_col, payload_col, nppes_fetched)
    addr = dim_npi_address_from_payloads(payloads, npi_col, payload_col)
    writer = latest_merge if refresh else upsert_by_key
    return write_star_tables(
        spark,
        lake_dir,
        {
            "dim_npi": partial(writer, spark, dim, keys=DIM_NPI_KEYS),
            "dim_npi_address": partial(writer, spark, addr, keys=DIM_NPI_ADDRESS_KEYS),
        },
    )


def synthetic_npi_payloads(spark: SparkSession, npis: list[str]) -> DataFrame:
    """Deterministic fake NPPES payload JSON per NPI — the offline stand-in
    for the API fetch, built from the same fake-record generator the
    cached-lookup fetcher uses, so dims and cache agree in tests."""
    from mrf_etl_spark.operators.enrichment import fake_nppes_payload

    rows = [(str(n), json.dumps(fake_nppes_payload(str(n)))) for n in npis]
    return spark.createDataFrame(rows, "npi string, payload_json string")

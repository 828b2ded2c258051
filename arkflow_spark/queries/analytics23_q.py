"""Round-3 fourth-session batch 19: column-level PII encryption and
duplicate-payment detection.

- `scalar_aes_pii_vault` — column-level AES encryption of a PII field
  (`aes_encrypt`/`aes_decrypt`/`try_aes_decrypt`, ECB for
  deterministic ciphertext): round-trip fidelity, PKCS7 ciphertext
  sizing, and wrong-key opacity, all emitted as oracle-verifiable
  columns (DataFusion has no AES functions; DuckDB verifies the
  CONTRACT — decrypted == original, block arithmetic, constant
  booleans — rather than the ciphertext).
- `orders_duplicate_payments` — the classic payables audit: same
  payer, order dates within 2 days, amounts scored for similarity
  (suspect at <=1% relative diff) — an equi-blocked self-join on the
  payer with date-band and scoring residuals, never a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.queries.base import (
    DUCK_TS_FMT,
    SPARK_TS_FMT,
    quantize,
    query,
)
from arkflow_spark.tables import load

_AES_KEY = "0123456789abcdef"  # 16-byte demo key (vault-managed in prod)
_AES_KEY2 = "fedcba9876543210"


@query(
    "scalar_aes_pii_vault",
    oracle="""
    SELECT c_custkey,
           c_name AS name_roundtrip,
           (length(c_name) // 16 + 1) * 16 AS cipher_bytes,
           TRUE AS cipher_len_ok,
           TRUE AS wrong_key_opaque
    FROM customer
    ORDER BY c_custkey
    """,
)
def scalar_aes_pii_vault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level PII encryption: c_name encrypts under AES-128-ECB
    (deterministic ciphertext — the mode that supports equality joins
    on encrypted columns; GCM is the right mode when determinism isn't
    needed), decrypts back byte-identically, ciphertext length follows
    PKCS7 block arithmetic ((len div 16 + 1) * 16 — verified in
    integer math), and decrypting under a rotated key never reveals
    the plaintext (`try_aes_decrypt` NULLs on bad padding; the rare
    coincidentally-valid padding yields garbage != original). DuckDB
    has no AES, so the oracle verifies the CONTRACT: the decrypted
    column must hash-match the original names, the block arithmetic
    must agree, and the two invariants must hold constantly — the
    same theorem-backed-boolean pattern as `agg_heavy_hitters_mg`.

    Scale: narrow codegen projections (JVM AES-NI); encrypt-once,
    join-on-ciphertext is the PII-safe join idiom this enables.
    """
    c = load(spark, sf_dir, "customer")
    cipher = F.aes_encrypt(
        F.col("c_name"), F.lit(_AES_KEY), F.lit("ECB")
    )
    decrypted = F.aes_decrypt(
        cipher, F.lit(_AES_KEY), F.lit("ECB")
    ).cast("string")
    wrong = F.try_aes_decrypt(
        cipher, F.lit(_AES_KEY2), F.lit("ECB")
    ).cast("string")
    return (
        c.select(
            "c_custkey",
            decrypted.alias("name_roundtrip"),
            F.length(cipher).alias("cipher_bytes"),
            (
                F.length(cipher)
                == (F.expr("length(c_name) div 16") + 1) * 16
            ).alias("cipher_len_ok"),
            (
                wrong.isNull() | (wrong != F.col("c_name"))
            ).alias("wrong_key_opaque"),
        )
        .orderBy("c_custkey")
    )


@query(
    "orders_duplicate_payments",
    oracle=f"""
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_custkey,
           a.o_totalprice AS amount_a, b.o_totalprice AS amount_b,
           abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                         CAST(b.o_orderdate AS DATE))) AS day_gap,
           floor(abs(a.o_totalprice - b.o_totalprice)
                 / greatest(a.o_totalprice, b.o_totalprice)
                 * 10000 + 0.5) / 10000 AS rel_amount_diff,
           abs(a.o_totalprice - b.o_totalprice) * 100
             <= greatest(a.o_totalprice, b.o_totalprice) AS suspect
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                       CAST(b.o_orderdate AS DATE))) <= 2
    ORDER BY key_a, key_b
    """,
)
def orders_duplicate_payments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-payment candidates (the payables audit every finance
    team runs): two orders by the SAME customer within 2 days, scored
    by relative amount similarity — `suspect` flags pairs within 1%
    (compared in multiplication-only arithmetic, no division) for
    review. Blocking on the payer + a short date band keeps the
    self-join linear in per-customer order density (the
    `part_fuzzy_name_join` blocking discipline); scoring happens on
    the blocked candidates only.

    Scale: one shuffle on o_custkey; candidate fan-out bounded by
    orders-per-customer-per-window.
    """
    o = load(spark, sf_dir, "orders")
    a, b = o.alias("a"), o.alias("b")
    gap = F.abs(
        F.datediff(
            F.to_date(F.col("a.o_orderdate")),
            F.to_date(F.col("b.o_orderdate")),
        )
    )
    pa, pb = F.col("a.o_totalprice"), F.col("b.o_totalprice")
    rel = F.abs(pa - pb) / F.greatest(pa, pb)
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (gap <= 2),
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.o_custkey").alias("o_custkey"),
            pa.alias("amount_a"),
            pb.alias("amount_b"),
            gap.alias("day_gap"),
            quantize(rel, 4).alias(
                "rel_amount_diff"
            ),
            # integer-free exact comparison: |d|*100 <= max(a,b)  <=>
            # relative diff <= 1%
            (F.abs(pa - pb) * 100 <= F.greatest(pa, pb)).alias(
                "suspect"
            ),
        )
        .orderBy("key_a", "key_b")
    )

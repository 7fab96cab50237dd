"""Array helpers used by the merge fold and dedup operators.

All pure higher-order-function expressions — no UDFs, no shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

N_SLOTS = 10

SLOT_COLS = ["tel_no"] + [f"tel_no{i}" for i in range(2, N_SLOTS + 1)]


def ordered_distinct(arr: Column) -> Column:
    """Dedupe an array **preserving first-occurrence order**.

    ``array_distinct`` already guarantees first-occurrence order in Spark,
    but we keep this wrapper as the single place to change if that contract
    ever needs an explicit fold.
    """
    return F.array_distinct(arr)


def slots_from_array(arr: Column) -> list[Column]:
    """Project an array<string> into the 10 legacy slot columns
    (``tel_no``..``tel_no10``) — reference sink shape
    (etl_customer_crm, reference src/services/saveToPostgres.js:277-311)."""
    # try_element_at: ANSI mode (Spark 4 default) makes plain element_at
    # THROW on out-of-bounds; slots arrays are usually shorter than 10
    return [
        F.try_element_at(arr, F.lit(i + 1)).alias(SLOT_COLS[i])
        for i in range(N_SLOTS)
    ]


def array_to_slots_struct(arr: Column) -> Column:
    """Same projection as :func:`slots_from_array` but as a single struct."""
    return F.struct(*slots_from_array(arr))

"""Entity specs for the six reference tables + the full-pipeline
orchestrator (parents before children, ref T ordering §3).

Spec factories are lazy (Column expressions need a live SparkContext), one
per entity, each citing the reference block it reproduces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    clean_text,
    norm_uuid_prevalidated,
    parse_bool,
    parse_date_mdy,
    parse_decimal,
    parse_int,
)
from .cleaning import CleanResult, EntitySpec, FkSpec, clean_entity
from ..operators.dml import upsert_ignore

# FK columns use norm_uuid_prevalidated (r12): clean_entity's quarantine
# step already filtered every row whose FK text is non-blank and non-uuid,
# so the per-row uuid regex in the cleaned projection is redundant —
# blank->NULL else lowercase(trim) is exactly norm_uuid on the surviving
# rows (equivalence pinned in tests/test_cleaning_pipeline.py).
UNKNOWN_SUPPLIER = {"suppliername": "UNKNOWN SUPPLIER"}  # ref T:131-135
UNKNOWN_CUSTOMER = {"name": "UNKNOWN CUSTOMER"}  # ref T:215-219
UNKNOWN_PRODUCT = {"productname": "UNKNOWN PRODUCT"}  # ref T:862-869
PLACEHOLDER_ORDER = {"shipmode": "PLACEHOLDER"}  # ref T:758-762


def spec_suppliers() -> EntitySpec:
    """PIPE-CLEAN-suppliers (ref T:378-408)."""
    return EntitySpec(
        name="suppliers",
        pk="supplierid",
        clean_exprs={
            "suppliername": clean_text("suppliername"),
            "contactperson": clean_text("contactperson"),
            "phone": clean_text("phone"),
            "city": clean_text("city"),
            "state": clean_text("state"),
        },
    )


def spec_products() -> EntitySpec:
    """PIPE-CLEAN-products (ref T:413-455)."""
    return EntitySpec(
        name="products",
        pk="productid",
        clean_exprs={
            "productname": clean_text("productname"),
            "category": clean_text("category"),
            "subcategory": clean_text("subcategory"),
            "priceperunit": parse_decimal("priceperunit", 12, 2),
            "stockquantity": parse_int("stockquantity"),
            "supplierid": norm_uuid_prevalidated("supplierid"),
        },
        fks=[FkSpec("supplierid", "suppliers", UNKNOWN_SUPPLIER)],
    )


def spec_customers() -> EntitySpec:
    """PIPE-CLEAN-customers (ref T:459-511)."""
    return EntitySpec(
        name="customers",
        pk="customerid",
        clean_exprs={
            "name": clean_text("name"),
            "age": parse_int("age"),
            "gender": clean_text("gender"),
            "city": clean_text("city"),
            "state": clean_text("state"),
            "country": clean_text("country"),
            "signupdate": parse_date_mdy("signupdate"),
            "primemember": parse_bool("primemember"),
        },
    )


def spec_orders() -> EntitySpec:
    """PIPE-CLEAN-orders (ref T:516-693)."""
    return EntitySpec(
        name="orders",
        pk="orderid",
        clean_exprs={
            "customerid": norm_uuid_prevalidated("customerid"),
            "orderdate": parse_date_mdy("orderdate"),
            "shipdate": parse_date_mdy("shipdate"),
            "shipmode": clean_text("shipmode"),
            "totalamount": parse_decimal("totalamount", 12, 2),
        },
        fks=[FkSpec("customerid", "customers", UNKNOWN_CUSTOMER)],
    )


def spec_order_details() -> EntitySpec:
    """PIPE-CLEAN-order_details (ref T:698-995)."""
    return EntitySpec(
        name="order_details",
        pk="orderdetailid",
        clean_exprs={
            "orderid": norm_uuid_prevalidated("orderid"),
            "productid": norm_uuid_prevalidated("productid"),
            "quantity": parse_int("quantity"),
            "unitprice": parse_decimal("unitprice", 12, 2),
            "discount": parse_decimal("discount", 5, 2),
        },
        fks=[
            FkSpec("orderid", "orders", PLACEHOLDER_ORDER),
            FkSpec("productid", "products", UNKNOWN_PRODUCT),
        ],
    )


def spec_reviews() -> EntitySpec:
    """PIPE-CLEAN-reviews (ref T:1001-1122)."""
    return EntitySpec(
        name="reviews",
        pk="reviewid",
        clean_exprs={
            "productid": norm_uuid_prevalidated("productid"),
            "customerid": norm_uuid_prevalidated("customerid"),
            "rating": parse_int("rating"),
            "reviewtext": clean_text("reviewtext"),
        },
        fks=[
            FkSpec("productid", "products", UNKNOWN_PRODUCT),
            FkSpec("customerid", "customers", UNKNOWN_CUSTOMER),
        ],
    )


# Declared constraint metadata beyond PK/FK, mirroring the reference's
# named constraints (ref A:45 chk_age, A:61 uq_customer_name, A:139
# chk_rating_range). DEFAULTs (A:143-144) are column attributes, not
# pg_constraint rows, so they are not part of the constraint catalog —
# same as the reference's own introspection query would show.
DECLARED_CHECKS = {
    "customers": [("chk_age", ["age"], "age > 18")],
    "reviews": [("chk_rating_range", ["rating"], "rating BETWEEN 1 AND 5")],
}
DECLARED_UNIQUES = {
    "customers": [("uq_customer_name", ["name"])],
}

SPEC_FACTORIES = {
    "suppliers": spec_suppliers,
    "products": spec_products,
    "customers": spec_customers,
    "orders": spec_orders,
    "order_details": spec_order_details,
    "reviews": spec_reviews,
}

# parents before children so FK guards see already-loaded parents (ref §3:
# suppliers -> products -> customers -> orders -> order_details -> reviews)
LOAD_ORDER = ["suppliers", "customers", "products", "orders", "order_details", "reviews"]


def run_full_pipeline(
    staging: dict[str, DataFrame], deterministic_ids: bool = True
) -> tuple[dict[str, DataFrame], dict[str, CleanResult]]:
    """Run every PIPE-CLEAN-* in dependency order, folding synthesized
    placeholder parents back into their tables as each child loads.

    Returns (final_tables, per-entity CleanResult). Quarantined rows are
    left for an explicit ``remap_quarantined`` pass (PIPE-IDREMAP).
    """
    finals: dict[str, DataFrame] = {}
    results: dict[str, CleanResult] = {}
    for name in LOAD_ORDER:
        if name not in staging:
            continue
        spec = SPEC_FACTORIES[name]()
        res = clean_entity(
            staging[name],
            spec,
            parents=finals,
            existing=finals.get(name),
            deterministic_ids=deterministic_ids,
        )
        finals[name] = res.final
        for parent_name, ph in res.placeholders.items():
            finals[parent_name] = upsert_ignore(
                finals[parent_name], ph, SPEC_FACTORIES[parent_name]().pk
            )
        results[name] = res
    return finals, results

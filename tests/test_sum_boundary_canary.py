"""Boundary-distance canary for rounded float SUMs (VERDICT r10 #1).

After the round-10 exact-mean sweep, the one residual driver-gate
flake class is keys whose oracle rounds a float SUM of revenue
products (``l_extendedprice * (1 - l_discount)`` and friends). Those
sums are order-sensitive float reductions, so the final
``floor(x*scale + 0.5)`` can flip between runs/engines — but ONLY if
the EXACT rational value of the sum sits within the reduction's error
budget of a rounding midpoint. Every money input is decimal-quantized
(asserted below), so each cell's exact value is an integer numerator
over a known power-of-ten denominator, and the midpoint distance is
computable EXACTLY with integer arithmetic — per cell, per scale
factor, in DuckDB + Fraction, no Spark needed.

Round-11 finding (this canary's first run): ~1% of revenue-product
cells sat EXACTLY on a rounding midpoint at every tested SF — q1's
sf0.001 ``sum_disc_price`` (594 rows) among them — and at sf1 the
float error budget grows past the midpoint distance of many more
(the r11 sf1 parity run caught ``q5_region_revenue`` hash-missing on
the pre-sweep code). Ten rounds of green evidence were a coin resting
on its edge. Consequence: EVERY key rounding a float SUM of money
products was converted to the exact-integer-numerator form
(``rounding.exact_sum``): sum BIGINT numerators (order-independent),
divide once, round once — both engines then evaluate one identical
IEEE composition of one identical integer, deterministic even ON a
midpoint.

This test now pins that contract three ways:

1. the oracle's every rounded money cell equals the float composition
   recomputed HERE from the exact integers (Python IEEE doubles ==
   Spark == DuckDB) — bit-strict, no tolerance;
2. an inventory scan over ALL registered oracles rejects any NEW
   floorized float SUM of money products (the pattern that can never
   be added again);
3. the midpoint-distance report stays informational: it prints how
   many cells would have been inside the flake budget without the
   conversion (the reason this sweep exists).

Provably-safe families NOT canaried (documented, not forgotten):

- sums of 2dp-exact values rounded AT 2dp (``sum(o_totalprice)``,
  ``sum(value)`` on events, ``sum(l_extendedprice)`` alone,
  q11's ``sum(l_extendedprice * l_quantity)``): the exact value's
  fractional part at the rounding scale is 0, distance to the
  midpoint is a full half-cent — 3+ orders of magnitude above any
  float-sum error at tested scales;
- single-division ratios of deterministic inputs (yoy_pct, seasonal
  index, markov probs, count rates): one IEEE division of bit-equal
  operands is bit-equal everywhere — no order-sensitivity to flip;
- q17_small_quantity: ``sum(l_extendedprice)/7`` puts the scaled
  value on the grid k/7, whose minimum midpoint distance is 1/14;
  its ``cut`` threshold is a deterministic single multiply of an
  exact integer mean;
- integer-valued sums (quantities, counts, 0/1 flags): exact in
  double below 2^53, order-independent.
"""

from __future__ import annotations

import math
import os
import sys
from fractions import Fraction
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from tools.full_parity import duck  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
# opportunistic 10x point: the bench-only tiled tables, when built
_SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "spark-warehouse", "sf1")
if os.path.isdir(_SF1):
    SF_DIRS.append(_SF1)

# exact integer recoveries of the 2dp-quantized money columns
PC = "CAST(round(l_extendedprice * 100) AS HUGEINT)"   # price cents
DC = "CAST(round((1 - l_discount) * 100) AS HUGEINT)"  # (1-disc) pct
DD = "CAST(round(l_discount * 100) AS HUGEINT)"        # disc pct
TC = "CAST(round((1 + l_tax) * 100) AS HUGEINT)"       # (1+tax) pct
RC = "CAST(round(p_retailprice * 100) AS HUGEINT)"     # retail cents
OC = "CAST(round(o_totalprice * 100) AS HUGEINT)"      # total cents
QI = "CAST(round(l_quantity) AS HUGEINT)"              # integer qty

E2 = 10**2
E4 = 10**4
E6 = 10**6


def _cell(col, num_cols, den, scale):
    """A rounded output cell: exact value = sum of ``num_cols`` ints
    over ``den``; the oracle rounds it with floor(x*scale + 0.5)."""
    return {"col": col, "num": num_cols, "den": den, "scale": scale}


def _ratio(col, num_col, den_col, mult, scale):
    """A rounded ratio cell: exact value = mult * num/den."""
    return {"col": col, "ratio": (num_col, den_col, mult), "scale": scale}


#: key -> (exact-numerator SQL, join keys [(canary col, oracle col)],
#:         cells). Every canary query also returns cnt (contributing
#: rows) for the error-budget report.
CANARIES = {
    "q1_pricing_summary": (
        f"""SELECT l_returnflag AS g1, l_linestatus AS g2,
                   count(*) AS cnt,
                   sum({PC}) AS n_base,
                   sum({PC} * {DC}) AS n_disc,
                   sum({PC} * {DC} * {TC}) AS n_charge
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2""",
        [("g1", "l_returnflag"), ("g2", "l_linestatus")],
        [_cell("sum_base_price", ["n_base"], E2, 100),
         _cell("sum_disc_price", ["n_disc"], E4, 100),
         _cell("sum_charge", ["n_charge"], E6, 100)],
    ),
    "q3_shipping_priority": (
        f"""SELECT l_orderkey AS g1, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-15'
              AND l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY 1""",
        [("g1", "l_orderkey")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "q5_region_revenue": (
        f"""SELECT r_name AS g1, n_name AS g2, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2""",
        [("g1", "r_name"), ("g2", "n_name")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "q6_forecast_revenue": (
        f"""SELECT count(*) AS cnt, sum({PC} * {DD}) AS n_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24""",
        [],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "q7_nation_volume": (
        f"""SELECT n1.n_name AS g1, n2.n_name AS g2,
                   CAST(year(l_shipdate) AS INT) AS g3,
                   count(*) AS cnt, sum({PC} * {DC}) AS n_rev
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3""",
        [("g1", "supp_nation"), ("g2", "cust_nation"), ("g3", "l_year")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "q9_product_profit": (
        # 0.6 * retail * qty at scale 1e4 = 60 * retail_cents * qty
        f"""SELECT n_name AS g1, CAST(year(o_orderdate) AS INT) AS g2,
                   count(*) AS cnt,
                   sum({PC} * {DC} - 60 * {RC} * {QI}) AS n_profit
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2""",
        [("g1", "nation"), ("g2", "o_year")],
        [_cell("profit", ["n_profit"], E4, 100)],
    ),
    "q10_returned_items": (
        f"""SELECT c_custkey AS g1, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-07-01'
              AND l_returnflag = 'R'
            GROUP BY 1""",
        [("g1", "c_custkey")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "q14_promo_share": (
        f"""SELECT strftime(l_shipdate, '%Y-%m') AS g1, count(*) AS cnt,
                   sum(CASE WHEN p_type = 'PROMO'
                            THEN {PC} * {DC} ELSE 0 END) AS n_promo,
                   sum({PC} * {DC}) AS n_rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1""",
        [("g1", "ship_month")],
        [_ratio("promo_share", "n_promo", "n_rev", 100, 100),
         _cell("revenue", ["n_rev"], E4, 100)],
    ),
    "q8_market_share": (
        f"""SELECT CAST(year(o_orderdate) AS INT) AS g1, count(*) AS cnt,
                   sum(CASE WHEN n2.n_name = 'NATION_2'
                            THEN {PC} * {DC} ELSE 0 END) AS n_share,
                   sum({PC} * {DC}) AS n_vol
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            JOIN part     ON l_partkey = p_partkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
            GROUP BY 1""",
        [("g1", "o_year")],
        [_ratio("mkt_share", "n_share", "n_vol", 1, 10000),
         _cell("total_volume", ["n_vol"], E4, 100)],
    ),
    "q15_top_supplier": (
        f"""SELECT l_suppkey AS g1, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY 1""",
        [("g1", "s_suppkey")],
        [_cell("total_revenue", ["n_rev"], E4, 100)],
    ),
    "q19_bracket_revenue": (
        f"""SELECT count(*) AS cnt, sum({PC} * {DC}) AS n_rev
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 15)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 25)
               OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 50
                   AND l_quantity BETWEEN 20 AND 35)""",
        [],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "lineitem_discount_sensitivity": (
        f"""SELECT CAST({DD} AS INT) AS g1,
                   CASE WHEN l_quantity < 10 THEN 'qty_00_09'
                        WHEN l_quantity < 25 THEN 'qty_10_24'
                        ELSE 'qty_25_up' END AS g2,
                   count(*) AS cnt,
                   sum({PC} * {DD}) AS n_given,
                   sum({PC} * {DC}) AS n_net
            FROM lineitem GROUP BY 1, 2""",
        [("g1", "discount_pct"), ("g2", "qty_band")],
        [_cell("discount_given", ["n_given"], E4, 100),
         _cell("net_revenue", ["n_net"], E4, 100)],
    ),
    "orders_salted_revenue": (
        f"""SELECT o_orderpriority AS g1, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1""",
        [("g1", "o_orderpriority")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "orders_bloom_prune": (
        f"""SELECT l_returnflag AS g1, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 WHERE o_totalprice > 490000)
            GROUP BY 1""",
        [("g1", "l_returnflag")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "supplier_revenue_rank": (
        f"""SELECT l_suppkey AS g1, l_partkey AS g2, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM lineitem GROUP BY 1, 2""",
        [("g1", "l_suppkey"), ("g2", "l_partkey")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "supplier_percentile_rank": (
        f"""SELECT l_suppkey AS g1, count(*) AS cnt,
                   sum({PC} * {DC}) AS n_rev
            FROM lineitem GROUP BY 1""",
        [("g1", "s_suppkey")],
        [_cell("revenue", ["n_rev"], E4, 100)],
    ),
    "nation_trade_balance": (
        f"""SELECT n_name AS g1,
                   coalesce(cs, 0) + coalesce(cb, 0) AS cnt,
                   coalesce(sell_n, 0) AS sell_n,
                   coalesce(buy_n, 0) AS buy_n,
                   coalesce(sell_n, 0) - 100 * coalesce(buy_n, 0) AS bal_n
            FROM nation
            LEFT JOIN (SELECT s_nationkey AS nk, count(*) AS cs,
                              sum({PC} * {DC}) AS sell_n
                       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                       GROUP BY 1) s ON n_nationkey = s.nk
            LEFT JOIN (SELECT c_nationkey AS nk, count(*) AS cb,
                              sum({OC}) AS buy_n
                       FROM orders JOIN customer ON o_custkey = c_custkey
                       GROUP BY 1) b ON n_nationkey = b.nk""",
        [("g1", "n_name")],
        [_cell("sell_revenue", ["sell_n"], E4, 100),
         _cell("buy_spend", ["buy_n"], E2, 100),
         _cell("balance", ["bal_n"], E4, 100)],
    ),
}


def _round_half_up(v: Fraction, scale: int) -> Fraction:
    y = v * scale
    return Fraction(math.floor(y + Fraction(1, 2)), scale)


def _midpoint_distance(v: Fraction, scale: int) -> Fraction:
    """Exact distance of v*scale's fractional part from the 0.5
    rounding midpoint (in scaled units)."""
    y = v * scale
    frac = y - math.floor(y)
    return abs(frac - Fraction(1, 2))


@pytest.fixture(scope="module", params=SF_DIRS,
                ids=[os.path.basename(d) for d in SF_DIRS])
def con_sf(request):
    sf = request.param
    con = duck(sf)
    yield con, sf
    con.close()


def test_money_columns_decimal_quantized(con_sf):
    """The canary's exact-integer recovery is valid only if every
    money input is (to double precision) an integer/100 — assert it."""
    con, _ = con_sf
    checks = [
        ("lineitem", "l_extendedprice"), ("lineitem", "l_discount"),
        ("lineitem", "l_tax"), ("part", "p_retailprice"),
        ("orders", "o_totalprice"), ("customer", "c_acctbal"),
        ("supplier", "s_acctbal"), ("events", "value"),
    ]
    for table, col in checks:
        (d,) = con.execute(
            f"SELECT max(abs({col}*100 - round({col}*100))) FROM {table}"
        ).fetchone()
        assert d is not None and d < 1e-6, (table, col, d)
    (dq,) = con.execute(
        "SELECT max(abs(l_quantity - round(l_quantity))) FROM lineitem"
    ).fetchone()
    assert dq == 0.0, "l_quantity must be integer-valued"


def _float_composition(num: int, den: int, scale: int) -> float:
    """The exact_sum composition as BOTH engines evaluate it:
    double(N) / double(den) → * scale + 0.5 → floor → / scale.
    Python floats are IEEE doubles, so this is the bit-identical
    reference for Spark's and DuckDB's results."""
    y = (float(num) / float(den)) * float(scale) + 0.5
    return math.floor(y) / float(scale)


def _ratio_composition(a: int, b: int, mult: int, scale: int) -> float:
    if mult == 1:
        y = (float(a) / float(b)) * float(scale) + 0.5
    else:
        y = ((float(mult) * float(a)) / float(b)) * float(scale) + 0.5
    return math.floor(y) / float(scale)


@pytest.mark.slow
def test_exact_sum_cells_pin_the_float_composition(con_sf):
    from b2b_data_pipeline_indiamart_spark.plans import ORACLE

    con, sf = con_sf
    would_flag = 0
    checked = 0
    for key, (sql, join_keys, cells) in CANARIES.items():
        rows = con.execute(sql).fetchdf().to_dict("records")
        oracle_rows = {}
        res = con.execute(ORACLE[key])
        ocols = [d[0] for d in res.description]
        for orow in res.fetchall():
            od = dict(zip(ocols, orow))
            jk = tuple(od[oc] for _, oc in join_keys)
            oracle_rows[jk] = od
        # q7-style selective filters can legitimately match nothing at
        # sf0.001 — an empty oracle with empty canary rows is fine
        assert oracle_rows or not rows, key
        for row in rows:
            cnt = int(row["cnt"])
            if cnt == 0:
                continue
            jk = tuple(row[ck] for ck, _ in join_keys)
            od = oracle_rows.get(jk)
            for c in cells:
                scale = c["scale"]
                if "ratio" in c:
                    ncol, dcol, mult = c["ratio"]
                    b = int(row[dcol])
                    if b == 0:
                        continue
                    a = int(row[ncol])
                    v = Fraction(mult * a, b)
                    exp = _ratio_composition(a, b, mult, scale)
                else:
                    num = sum(int(row[n]) for n in c["num"])
                    v = Fraction(num, c["den"])
                    exp = _float_composition(num, c["den"], scale)
                checked += 1
                # informational: midpoint proximity that WOULD have
                # been a flake under the old order-sensitive float sum
                d = _midpoint_distance(v, scale)
                budget = math.sqrt(cnt) * math.ulp(
                    abs(float(v)) * scale + 1.0
                )
                if float(d) < 4 * budget:
                    would_flag += 1
                if od is None:
                    continue  # cells the oracle's LIMIT cut off
                got = float(od[c["col"]])
                # bit-strict: the exact-integer composition leaves the
                # engines NOTHING order-sensitive to disagree on
                assert exp == got, (
                    sf, key, c["col"], jk, exp, got,
                    "oracle cell diverges from the deterministic "
                    "exact-integer composition — exact_sum contract "
                    "broken",
                )
    assert checked > 0
    print(f"\n{sf}: {checked} money cells pinned bit-strict; "
          f"{would_flag} were inside the pre-sweep flake budget")


#: floorized float SUMs of money products — the order-sensitive shape
#: the r11 sweep eliminated; no new oracle may reintroduce it. (Raw
#: 2dp sums rounded AT 2dp — sum(o_totalprice), sum(value) — are
#: safe-by-scale and allowed; see module docstring.)
_FORBIDDEN_ORACLE_PATTERNS = [
    r"sum\(\s*l_extendedprice\s*\*",          # raw revenue products
    r"THEN\s+l_extendedprice\s*\*",           # conditional raw products
    r"sum\([^)]*0\.6\s*\*\s*p_retailprice",   # raw profit products
    r"\*\s*\(\s*1\s*-\s*l_discount\s*\)\s*\)",  # any raw (1-disc) product
    # raw 2dp money sums rounded at 2dp: safe at small SF but the
    # scaled-units ulp grows with the sum's magnitude — at sf1 the
    # big-rollup cells' float error budget already crosses the
    # half-cent midpoint distance (r11 wave 2). The ordered-window
    # running sum (sum(x) OVER (ORDER BY ...)) stays allowed: both
    # engines accumulate in the SAME frame order, so it is
    # deterministic — the floorized window form has " OVER" before
    # the closing paren and does not match these.
    r"floor\(\(sum\(o_totalprice\)\)",
    r"floor\(\(sum\(value\)\)",
    r"floor\(\(sum\(c\.value\)\)",
    r"floor\(\(sum\(c_acctbal\)\)",
    r"floor\(\(sum\(l_extendedprice\)\)",
    r"floor\(\(sum\(coalesce\(price",
    r"floor\(\(sum\(coalesce\(p\.spend[^_]",  # spend_n (cents) allowed
    # means of 2dp user values rounded at 4dp: the 1/(100n) lattice
    # is commensurate with the 4dp grid (the events_ab_test class)
    r"avg\(user_value\)",
    r"sum\(wt\s*\*\s*user_value\)",
]


def test_no_order_sensitive_money_sums_in_oracles():
    import re

    from b2b_data_pipeline_indiamart_spark.plans import ORACLE

    offenders = []
    for key, sql in ORACLE.items():
        for pat in _FORBIDDEN_ORACLE_PATTERNS:
            if re.search(pat, sql):
                offenders.append((key, pat))
    assert not offenders, (
        "oracle rounds an order-sensitive float SUM of money products "
        "— use the exact-integer form (rounding.exact_sum / _REV_SQL): "
        f"{offenders}"
    )

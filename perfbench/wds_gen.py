"""Seeded generator for a StatCan WDS full-table download.

Writes one long-format CSV per release vintage, in the column layout
`sources.statcan_wds.wds_schema` reads: REF_DATE, GEO, DGUID, the
product's dimension columns, UOM ... DECIMALS.

- Vintage 0 is the full release: every vector (GEO x dimension members)
  at every monthly REF_DATE. About 2 % of its cells are suppressed
  (empty VALUE, STATUS `x`).
- Vintages 1 and 2 are revisions. Each re-publishes about 10 % of the
  cells with a revised value. A revision may lift a suppression.

Values are positive one-decimal numbers, so a period-over-period change
never divides by zero and parses to the same double in every engine.
"""

from __future__ import annotations

import os

import numpy as np

DIMENSIONS = ["Products"]

GEOS = [
    ("Canada", "2016A000011124"),
    ("Newfoundland and Labrador", "2016A000210"),
    ("Prince Edward Island", "2016A000211"),
    ("Nova Scotia", "2016A000212"),
    ("New Brunswick", "2016A000213"),
    ("Quebec", "2016A000224"),
    ("Ontario", "2016A000235"),
    ("Manitoba", "2016A000246"),
    ("Saskatchewan", "2016A000247"),
    ("Alberta", "2016A000248"),
    ("British Columbia", "2016A000259"),
    ("Yukon", "2016A000260"),
    ("Northwest Territories", "2016A000261"),
    ("Nunavut", "2016A000262"),
]
PRODUCTS = [
    "All-items", "Food", "Shelter", "Household operations", "Clothing and footwear",
    "Transportation", "Gasoline", "Health and personal care", "Recreation",
    "Alcoholic beverages", "Energy", "Services", "Goods", "Rent", "Electricity",
]

HEADER = (
    ["REF_DATE", "GEO", "DGUID"]
    + DIMENSIONS
    + [
        "UOM", "UOM_ID", "SCALAR_FACTOR", "SCALAR_ID", "VECTOR", "COORDINATE",
        "VALUE", "STATUS", "SYMBOL", "TERMINATED", "DECIMALS",
    ]
)

# name -> (geos, products, months)
SIZES = {
    "default": (14, 15, 48),
    "tiny": (3, 2, 24),
}

SUPPRESSED_SHARE = 0.02
REVISION_SHARE = 0.10
N_REVISIONS = 2


def generate(out_dir: str, seed: int, size: str = "default") -> dict:
    """Write wds_v0.csv .. wds_v2.csv under `out_dir`; return a manifest
    with the file names, row counts and byte sizes."""
    n_geo, n_prod, n_months = SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # one vector per (geo, product) member pair
    grid = [(g, p) for g in range(n_geo) for p in range(n_prod)]
    n_vec = len(grid)
    months = [f"{2015 + m // 12}-{m % 12 + 1:02d}" for m in range(n_months)]

    # multiplicative random walk per vector, floored so it stays positive
    base = rng.uniform(50.0, 500.0, n_vec)
    steps = rng.normal(0.002, 0.01, (n_vec, n_months))
    values = np.maximum(1.0, np.round(base[:, None] * np.cumprod(1.0 + steps, axis=1), 1))

    prefixes = []
    suffix_v = []
    for i, (g, p) in enumerate(grid):
        geo, dguid = GEOS[g]
        prefixes.append(f"{geo},{dguid},{PRODUCTS[p]},2002=100,17,units,0,")
        suffix_v.append(f"v{41690000 + i},{g + 1}.{p + 1}")

    def row(v: int, m: int, value: float | None, status: str) -> str:
        val = "" if value is None else f"{value:.1f}"
        return f"{months[m]},{prefixes[v]}{suffix_v[v]},{val},{status},,,1"

    n_cells = n_vec * n_months
    suppressed = rng.random(n_cells) < SUPPRESSED_SHARE
    vintages = [[
        row(c // n_months, c % n_months, None if suppressed[c] else values.flat[c],
            "x" if suppressed[c] else "")
        for c in range(n_cells)
    ]]
    for _ in range(N_REVISIONS):
        cells = np.sort(rng.choice(n_cells, int(n_cells * REVISION_SHARE), replace=False))
        revised = np.maximum(1.0, np.round(
            values.flat[cells] * (1.0 + rng.normal(0.0, 0.02, len(cells))), 1))
        vintages.append([
            row(c // n_months, c % n_months, val, "E" if c % 7 == 0 else "")
            for c, val in zip(cells.tolist(), revised.tolist())
        ])

    files = []
    header = ",".join(HEADER)
    for v, rows in enumerate(vintages):
        name = f"wds_v{v}.csv"
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            f.write(header + "\n")
            f.write("\n".join(rows) + "\n")
        files.append({"name": name, "vintage": v, "rows": len(rows),
                      "bytes": os.path.getsize(path)})
    return {"size": size, "vectors": n_vec, "months": n_months, "files": files}

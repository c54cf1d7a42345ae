"""Seeded input generator for the ``etl_deltas`` workload.

Writes priceindex CSVs shaped like the StatCan CPI extract the source
system loads (15 canonical columns, one row per ``Date x GEO x
Products``): a base extract, then a stream of daily delta files. Each
delta carries one new month for every series plus revisions of values
within the last 24 months. The first three stream files exercise the
gates: the first delta carries a few malformed lines (within
``maxerrors``), the second carries more than ``maxerrors`` and is
rejected, and the third has a filename no route matches.

Alongside the files it computes, in plain Python, what the system must
end up with: the last-writer-wins table, the ``(Date, GEO)`` report
(row count and exact decimal sum of VALUE) and every file's status.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from decimal import Decimal

COLUMNS = (
    "Date",
    "GEO",
    "DGUID",
    "Products",
    "UOM",
    "UOM_ID",
    "SCALAR_FACTOR",
    "SCALAR_ID",
    "VECTOR",
    "COORDINATE",
    "VALUE",
    "STATUS",
    "SYMBOL",
    "TERMINATED",
    "DECIMALS",
)
KEYS = ("Date", "GEO", "Products")
MAXERRORS = 5

GEOS = (
    "Canada",
    "Newfoundland and Labrador",
    "Prince Edward Island",
    "Nova Scotia",
    "New Brunswick",
    "Quebec",
    "Ontario",
    "Manitoba",
    "Saskatchewan",
    "Alberta",
    "British Columbia",
    "Whitehorse",
    "Yellowknife",
    "Iqaluit",
)
_CATEGORIES = (
    "All-items",
    "Food",
    "Shelter",
    "Household operations",
    "Clothing and footwear",
    "Transportation",
    "Gasoline",
    "Health and personal care",
    "Recreation",
    "Education and reading",
    "Alcoholic beverages",
    "Tobacco products",
    "Energy",
    "Rent",
    "Electricity",
    "Services",
)

# Positions (1-based, after the base extract) of the gate-exercising
# files in the delta stream. Fixed, so every run with enough files
# meets them in the same place.
MALFORMED_AT = 1
OVER_GATE_AT = 2
UNROUTABLE_AT = 3


@dataclass(frozen=True)
class StreamFile:
    path: str
    kind: str  # base | delta | malformed | over_gate | unroutable
    status: str  # the ingest status the file must produce
    rows: int  # well-formed data rows in the file
    bad_rows: int


def _month(start_year: int, start_month: int, k: int) -> str:
    y, m = divmod(start_month - 1 + k, 12)
    return f"{start_year + y:04d}-{m + 1:02d}-01"


def _products(n: int) -> list[str]:
    out = []
    for i in range(n):
        cat = _CATEGORIES[i % len(_CATEGORIES)]
        out.append(cat if i < len(_CATEGORIES) else f"{cat} component {i // len(_CATEGORIES)}")
    return out


class PriceIndexStream:
    """The base extract and ``n_deltas`` stream files for one seed.

    ``state`` maps each key to its full row as it must read after every
    accepted file so far; :meth:`expected_after` replays the stream
    prefix a run actually ingested.
    """

    def __init__(
        self,
        out_dir: str,
        seed: int,
        n_geo: int = 14,
        n_products: int = 48,
        base_months: int = 24,
        revisions: int = 400,
        n_deltas: int = 40,
    ) -> None:
        self.out_dir = out_dir
        self.rng = random.Random(seed)
        self.geos = GEOS[:n_geo]
        self.products = _products(n_products)
        self.base_months = base_months
        self.revisions = revisions
        self.n_deltas = n_deltas
        self.files: list[StreamFile] = []
        self._rows: list[list[tuple]] = []  # accepted rows per file

    # -- rows -------------------------------------------------------------
    def _row(self, date: str, g: int, p: int) -> tuple:
        value = Decimal(self.rng.randint(800, 2200)) / 10
        return (
            date,
            self.geos[g],
            f"2016A0000{g + 10:02d}",
            self.products[p],
            "2002=100",
            "17",
            "units",
            "0",
            f"v{41690000 + g * 1000 + p}",
            f"{g + 1}.{p + 1}",
            f"{value:.1f}",
            "",
            "",
            "",
            "1",
        )

    def _month_rows(self, k: int) -> list[tuple]:
        date = _month(2020, 1, k)
        return [
            self._row(date, g, p)
            for g in range(len(self.geos))
            for p in range(len(self.products))
        ]

    def _revision_rows(self, last_month: int) -> list[tuple]:
        lo = max(0, last_month - 23)
        n_keys = (last_month - lo + 1) * len(self.geos) * len(self.products)
        picks = self.rng.sample(range(n_keys), min(self.revisions, n_keys))
        per_month = len(self.geos) * len(self.products)
        out = []
        for idx in sorted(picks):
            k, rest = divmod(idx, per_month)
            g, p = divmod(rest, len(self.products))
            out.append(self._row(_month(2020, 1, lo + k), g, p))
        return out

    # -- files ------------------------------------------------------------
    def _write(self, name: str, rows: list[tuple], bad: int) -> str:
        path = os.path.join(self.out_dir, name)
        lines = [",".join(COLUMNS)] + [",".join(r) for r in rows]
        for i in range(bad):
            # one field too many: the permissive reader's malformed row
            lines.insert(1 + (i * 7919) % len(lines), ",".join(rows[i]) + ",overflow")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return path

    def generate(self) -> "PriceIndexStream":
        os.makedirs(self.out_dir, exist_ok=True)
        base = [r for k in range(self.base_months) for r in self._month_rows(k)]
        self.files.append(
            StreamFile(self._write("PriceIndex_base.csv", base, 0), "base", "ok", len(base), 0)
        )
        self._rows.append(base)
        last = self.base_months - 1
        for j in range(1, self.n_deltas + 1):
            day = f"2026-01-{j:02d}" if j <= 31 else f"2026-02-{j - 31:02d}"
            if j == UNROUTABLE_AT:
                rows = self._month_rows(last + 1)[:50]
                path = self._write(f"quarterly_summary_{day}.csv", rows, 0)
                self.files.append(StreamFile(path, "unroutable", "skipped", len(rows), 0))
                self._rows.append([])
                continue
            rows = self._revision_rows(last) + self._month_rows(last + 1)
            name = f"priceindex_delta_{day}.csv"
            if j == OVER_GATE_AT:
                bad = MAXERRORS + 1 + self.rng.randint(0, 3)
                path = self._write(name, rows, bad)
                self.files.append(StreamFile(path, "over_gate", "rejected", len(rows), bad))
                self._rows.append([])
                continue
            bad = self.rng.randint(1, MAXERRORS) if j == MALFORMED_AT else 0
            kind = "malformed" if bad else "delta"
            path = self._write(name, rows, bad)
            self.files.append(StreamFile(path, kind, "ok", len(rows), bad))
            self._rows.append(rows)
            last += 1
        return self

    # -- expectations -----------------------------------------------------
    def expected_after(self, n_files: int) -> tuple[dict, dict]:
        """(table, report) after the first ``n_files`` stream files.

        table: key -> full canonical row (last writer wins);
        report: (Date, GEO) -> (row count, exact sum of VALUE).
        """
        table: dict[tuple, tuple] = {}
        for rows in self._rows[:n_files]:
            for r in rows:
                table[(r[0], r[1], r[3])] = r
        report: dict[tuple, list] = {}
        for r in table.values():
            acc = report.setdefault((r[0], r[1]), [0, Decimal(0)])
            acc[0] += 1
            acc[1] += Decimal(r[10])
        return table, {k: (n, s) for k, (n, s) in report.items()}

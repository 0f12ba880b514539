"""Seeded benchmark inputs.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  The map_bulk files are written by plain Python (the program
never sees how they were made); the page tables for the kg_* and
sparql_read workloads come from the package's own ``make_pages`` /
``make_alias_dict`` generators, which are seeded Column expressions.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

BASE = "http://data.example.org/reg"
DEF = "http://data.example.org/def/"
STATUS = {
    "A": DEF + "status/Approved",
    "W": DEF + "status/Withdrawn",
    "S": DEF + "status/Suspended",
    "E": DEF + "status/Expired",
}
CATEGORIES = [
    "Herbicide", "Fungicide", "Insecticide", "Growth Regulator",
    "Adjuvant", "Molluscicide", "Rodenticide", "Nematicide",
    "Seed Treatment", "Biocide",
]
TAGS = ["outdoor", "indoor", "amateur", "professional", "aerial", "granular",
        "liquid", "organic", "restricted", "tank-mix"]
WORDS = ["supply", "field", "crop", "winter", "spring", "blend", "formula",
         "concentrate", "barley", "wheat", "orchard", "vine", "turf",
         "broad", "leaf", "contact", "systemic", "pre", "post", "emergence"]
MISS_RATE = 0.01          # share of rows whose status code has no mapping


def bulk_rows(seed: int, file_no: int, n_rows: int) -> list[dict]:
    """One file's rows.  About MISS_RATE of them carry a status code that
    the ``status`` mapping lacks (a planted ``map_by`` miss)."""
    rng = random.Random(f"{seed}:{file_no}")
    rows = []
    day0 = dt.date(1995, 1, 1)
    for i in range(n_rows):
        d = day0 + dt.timedelta(days=rng.randrange(11000))
        registered = (d.isoformat() if rng.random() < 0.5
                      else f"{d.day} {d.strftime('%B')} {d.year}")
        status = ("X" + str(rng.randrange(10)) if rng.random() < MISS_RATE
                  else rng.choice("AWSE"))
        name = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 4)))
        rows.append({
            "id": f"R{seed % 1000:03d}-{file_no:03d}-{i:06d}",
            "name": name.title(),
            "registered": registered,
            "category": rng.choice(CATEGORIES),
            "status": status,
            "qty": str(rng.randrange(1, 5000)),
            "description": " ".join(rng.choice(WORDS)
                                    for _ in range(rng.randint(6, 14))),
            "tags": ", ".join(rng.sample(TAGS, rng.randint(1, 3))),
            "components": [
                {"sku": f"C{rng.randrange(5000):05d}",
                 "share": rng.randrange(1, 100)}
                for _ in range(rng.randint(1, 3))
            ],
        })
    return rows


def write_csv(path: str, rows: list[dict]) -> None:
    cols = ["id", "name", "registered", "category", "status", "qty",
            "description", "tags"]
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.DictWriter(fh, fieldnames=cols, extrasaction="ignore")
        w.writeheader()
        w.writerows(rows)


def write_jsonlines(path: str, rows: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def bulk_files(seed: int, out_dir: str, n_files: int,
               n_rows: int) -> list[tuple[str, list[dict]]]:
    """Alternating CSV / JSON-lines files; returns (path, rows) pairs."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for k in range(n_files):
        rows = bulk_rows(seed, k, n_rows)
        if k % 2 == 0:
            path = os.path.join(out_dir, f"products-{k:03d}.csv")
            write_csv(path, rows)
        else:
            path = os.path.join(out_dir, f"products-{k:03d}.jsonlines")
            write_jsonlines(path, rows)
        out.append((path, rows))
    return out


def page_tables(spark, seed: int, out_dir: str, n_files: int,
                pages_per_file: int, n_entities: int):
    """``n_files`` parquet files of ``make_pages`` rows with disjoint url
    ranges (one file per streaming trigger) plus the alias dictionary.
    Returns (pages_dir, aliases_dir)."""
    from pyspark.sql import functions as F

    from rdf_mapper_spark.pipeline.datagen import make_alias_dict, make_pages

    pages_dir = os.path.join(out_dir, "pages")
    pages = make_pages(spark, n_files * pages_per_file,
                       n_entities=n_entities, seed=seed)
    page_no = F.regexp_extract("url", r"/page(\d+)$", 1).cast("long")
    for k in range(n_files):
        (pages.where(page_no.between(k * pages_per_file,
                                     (k + 1) * pages_per_file - 1))
         .coalesce(1).write.mode("append").parquet(pages_dir))
    aliases_dir = os.path.join(out_dir, "aliases")
    make_alias_dict(spark, n_entities).coalesce(1).write.mode(
        "overwrite").parquet(aliases_dir)
    return pages_dir, aliases_dir

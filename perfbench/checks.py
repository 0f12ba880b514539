"""Output checks computed apart from the program.

Every expected value here comes from the generated inputs (the rows the
benchmark wrote, the ``EntityN`` tokens in the page text) through
``hashlib``/``base64``/``re`` or DuckDB SQL; nothing imports the package
or compares against a stored copy of earlier output.  Each check returns
a list of problems; an empty list passes.

Self-test (each check must pass on good output and fail on a planted
fault): ``python3 perfbench/checks.py --self-test``.
"""

from __future__ import annotations

import base64
import collections
import glob
import hashlib
import os
import random
import re
import sys

import gen

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SKOS = "http://www.w3.org/2004/02/skos/core#"
P = gen.BASE + "/def/"
PRODUCT = gen.BASE + "/data/product/"
COMPONENT = "http://data.example.org/component/"
CONCEPT = P + "category/"
KG = "http://kg.example.org/"
MENTIONS = KG + "def/mentions"
ENTITY = KG + "entity/"
DCT = "http://purl.org/dc/terms/"
_NQ = re.compile(r'^(<[^>]*>) (<[^>]*>) (<[^>]*>|".*"(?:@[\w-]+|\^\^<[^>]*>)?)'
                 r'(?: <[^>]*>)? \.$')


# --- map_bulk ---------------------------------------------------------------
def mint(*parts: str) -> str:
    """``<hash(a,b)>``: base32hex of SHA-1 over the concatenated parts."""
    digest = hashlib.sha1("".join(parts).encode("utf-8")).digest()
    return base64.b32hexencode(digest).decode("ascii")


def product_iri(row: dict) -> str:
    return PRODUCT + mint(row["id"], row["name"])


def concept_iri(label: str) -> str:
    return CONCEPT + re.sub(r"[^\w\-]+", "_", label.strip()).strip("_")


def as_date(s: str) -> str:
    import datetime as dt

    for fmt in ("%Y-%m-%d", "%d %B %Y"):
        try:
            return dt.datetime.strptime(s, fmt).date().isoformat()
        except ValueError:
            pass
    raise ValueError(s)


def product_quads(row: dict, with_components: bool) -> set[str]:
    """The exact N-Quads lines whose subject is the row's product."""
    s = f"<{product_iri(row)}>"
    out = {
        f"{s} <{RDF_TYPE}> <http://data.example.org/def/Product> .",
        f'{s} <{RDFS_LABEL}> "{row["name"]}"@en .',
        f'{s} <{P}regNo> "{row["id"]}" .',
        f'{s} <{P}registered> "{as_date(row["registered"])}"^^<{XSD}date> .',
        f"{s} <{P}category> <{concept_iri(row['category'])}> .",
        f'{s} <{P}quantity> "{int(row["qty"])}"^^<{XSD}integer> .',
        f'{s} <{P}description> "{row["description"]}"@en .',
    }
    if row["status"] in gen.STATUS:
        out.add(f"{s} <{P}status> <{gen.STATUS[row['status']]}> .")
    for tag in re.split(r"\s*,\s*", row["tags"]):
        out.add(f'{s} <{P}tag> "{tag}" .')
    if with_components:
        for c in row["components"]:
            out.add(f"{s} <{P}component> <{COMPONENT}{c['sku']}> .")
    return out


def planted_misses(rows: list[dict]) -> int:
    return sum(r["status"] not in gen.STATUS for r in rows)


def expected_counts(rows: list[dict], with_components: bool) -> dict:
    """Quads per predicate over the data subjects (products, concepts,
    components); vocabulary declarations are not counted."""
    c = collections.Counter()
    n = len(rows)
    for p in ("regNo", "registered", "category", "quantity",
              "description"):
        c[P + p] = n
    c[P + "status"] = n - planted_misses(rows)
    c[P + "tag"] = sum(len(re.split(r"\s*,\s*", r["tags"])) for r in rows)
    cats = {r["category"] for r in rows}
    c[RDFS_LABEL] = n
    c[RDF_TYPE] = n + len(cats)
    for p in ("prefLabel", "inScheme", "topConceptOf"):
        c[SKOS + p] = len(cats)
    if with_components:
        c[P + "component"] = len({(r["id"], x["sku"]) for r in rows
                                  for x in r["components"]})
        skus = {x["sku"] for r in rows for x in r["components"]}
        c[P + "share"] = len({(x["sku"], x["share"]) for r in rows
                              for x in r["components"]})
        c[RDF_TYPE] += len(skus)
    return dict(c)


def read_lines(out_dir: str) -> list[str]:
    lines = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    return lines


def check_bulk(lines: list[str], rows: list[dict], with_components: bool,
               errors: dict, seed: int, n_samples: int = 25) -> list[str]:
    problems = []
    if len(lines) != len(set(lines)):
        problems.append(f"{len(lines) - len(set(lines))} duplicate lines")
    by_subject = collections.defaultdict(set)
    counts = collections.Counter()
    data_subject = (PRODUCT, COMPONENT, CONCEPT)
    for line in lines:
        m = _NQ.match(line)
        if not m:
            problems.append(f"not an N-Quads line: {line[:120]}")
            continue
        s, p = m.group(1)[1:-1], m.group(2)[1:-1]
        by_subject[s].add(line)
        if s.startswith(data_subject):
            counts[p] += 1
    want = expected_counts(rows, with_components)
    for p, n in sorted(want.items()):
        if counts.get(p, 0) != n:
            problems.append(f"predicate {p}: {counts.get(p, 0)} quads, "
                            f"want {n}")
    rng = random.Random(seed)
    for row in rng.sample(rows, min(n_samples, len(rows))):
        got = by_subject.get(product_iri(row), set())
        exp = product_quads(row, with_components)
        if got != exp:
            problems.append(f"row {row['id']}: missing "
                            f"{sorted(exp - got)[:2]} extra "
                            f"{sorted(got - exp)[:2]}")
    misses = planted_misses(rows)
    if sum(errors.values()) != misses:
        problems.append(f"count_errors {errors}, planted misses {misses}")
    return problems


# --- kg ---------------------------------------------------------------------
def _quads(path: str) -> str:
    """A DuckDB relation over one quad parquet tree."""
    return (f"(SELECT * FROM read_parquet('{path}/**/*.parquet', "
            f"hive_partitioning={'/graph_tables' in path}, "
            "union_by_name=true))")


def kg_expected(con, pages_dir: str) -> dict:
    """Per-predicate counts from the ``EntityN`` tokens of the page
    text: each page mentions the distinct entities named in it; each
    entity mentioned anywhere gets a type and a label."""
    row = con.execute(f"""
        WITH m AS (
          SELECT DISTINCT url, unnest(regexp_extract_all(text,
                 '\\bEntity(\\d+)\\b', 1)) AS n
          FROM read_parquet('{pages_dir}/*.parquet'))
        SELECT (SELECT count(*) FROM read_parquet('{pages_dir}/*.parquet')),
               count(*), count(DISTINCT n) FROM (SELECT DISTINCT url, n FROM m)
    """).fetchone()
    pages, mentions, entities = row
    return {MENTIONS: mentions, SKOS + "prefLabel": entities,
            RDF_TYPE: pages + entities, DCT + "language": pages,
            DCT + "date": pages}


def check_kg_counts(con, quads_path: str, pages_dir: str) -> list[str]:
    problems = []
    got = dict(con.execute(f"SELECT p, count(*) FROM {_quads(quads_path)}"
                           " GROUP BY p").fetchall())
    for p, n in sorted(kg_expected(con, pages_dir).items()):
        if got.get(p, 0) != n:
            problems.append(f"{quads_path}: predicate {p}: "
                            f"{got.get(p, 0)} quads, want {n}")
    legacy = con.execute(f"SELECT count(*) FROM {_quads(quads_path)} "
                         "WHERE s LIKE '%/legacy/%' OR o LIKE '%/legacy/%'"
                         ).fetchone()[0]
    if legacy:
        problems.append(f"{quads_path}: {legacy} quads keep a legacy IRI")
    return problems


_KEY = "s, p, ok, o, coalesce(odt, ''), coalesce(olg, '')"


def check_same_set(con, a: str, b: str) -> list[str]:
    """The distinct quad sets of two outputs are equal."""
    n = con.execute(f"""SELECT count(*) FROM (
        (SELECT {_KEY} FROM {_quads(a)} EXCEPT
         SELECT {_KEY} FROM {_quads(b)})
        UNION ALL
        (SELECT {_KEY} FROM {_quads(b)} EXCEPT
         SELECT {_KEY} FROM {_quads(a)}))""").fetchone()[0]
    return [f"{a} and {b} differ in {n} distinct quads"] if n else []


def check_query(con, ref_path: str, q: dict, got) -> list[str]:
    """One SPARQL answer against its DuckDB SQL over the pipeline's quad
    parquet (``Q`` in the SQL)."""
    sql = re.sub(r"\bQ\b", _quads(ref_path), q["sql"])
    want = con.execute(sql).fetchall()
    if q["kind"] == "ask":
        want_v = bool(want[0][0])
        return [] if got == want_v else [f"{q['name']}: {got} != {want_v}"]
    got_rows = sorted(tuple("" if v is None else str(v) for v in r)
                      for r in got)
    want_rows = sorted(tuple("" if v is None else str(v) for v in r)
                       for r in want)
    if got_rows != want_rows:
        return [f"{q['name']}: {len(got_rows)} rows, want {len(want_rows)};"
                f" first differences {sorted(set(got_rows) ^ set(want_rows))[:3]}"]
    return []


# --- self-test ----------------------------------------------------------------
def _self_test() -> None:
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    # map_bulk: lines built straight from the rows pass; a mis-minted
    # IRI, a dropped quad or a wrong error count each fail
    rows = gen.bulk_rows(7, 1, 300)
    good = set()
    for r in rows:
        good |= product_quads(r, True)
    for cat in {r["category"] for r in rows}:
        c = f"<{concept_iri(cat)}>"
        good |= {f"{c} <{RDF_TYPE}> <{SKOS}Concept> .",
                 f'{c} <{SKOS}prefLabel> "{cat}" .',
                 f"{c} <{SKOS}inScheme> <{P}category_scheme> .",
                 f"{c} <{SKOS}topConceptOf> <{P}category_scheme> ."}
    for x in {(x["sku"], x["share"]) for r in rows for x in r["components"]}:
        good.add(f'<{COMPONENT}{x[0]}> <{P}share> "{x[1]}"^^<{XSD}integer> .')
    for sku in {x["sku"] for r in rows for x in r["components"]}:
        good.add(f"<{COMPONENT}{sku}> <{RDF_TYPE}> <{P}component> .")
    errs = {"product.map_by(status):no-mapping": planted_misses(rows)}
    lines = sorted(good)
    assert planted_misses(rows) > 0
    assert check_bulk(lines, rows, True, errs, 1, n_samples=300) == []
    victim = product_iri(rows[0])
    wrong = victim[:-1] + ("1" if victim.endswith("0") else "0")
    bad = [ln.replace(victim, wrong) for ln in lines]
    assert check_bulk(bad, rows, True, errs, 1, n_samples=300)
    dropped = [ln for ln in lines if "/def/tag>" not in ln
               or victim not in ln]
    assert check_bulk(dropped, rows, True, errs, 1, n_samples=300)
    assert check_bulk(lines + lines[:1], rows, True, errs, 1, 300)
    assert check_bulk(lines, rows, True, {"x": 0}, 1, 300)

    # kg: a hand-built page table and its quads; a dropped quad, a
    # surviving legacy IRI and a wrong query row each fail
    con = duckdb.connect()
    with tempfile.TemporaryDirectory(dir=os.path.dirname(
            os.path.abspath(__file__))) as tmp:
        pages = os.path.join(tmp, "pages")
        os.makedirs(pages)
        texts = {"u1": "a Entity3 b Entity7 c Entity3",
                 "u2": "Entity7 x Entity12 y Entity1"}
        pq.write_table(pa.table({"url": list(texts),
                                 "text": list(texts.values())}),
                       os.path.join(pages, "p.parquet"))
        quads = []
        for u, t in texts.items():
            quads += [(u, RDF_TYPE, "iri", KG + "def/WebPage"),
                      (u, DCT + "language", "literal", "en"),
                      (u, DCT + "date", "literal", "2025")]
            for n in sorted(set(re.findall(r"Entity(\d+)", t))):
                quads.append((u, MENTIONS, "iri", ENTITY + n))
        for n in ("1", "3", "7", "12"):
            quads += [(ENTITY + n, RDF_TYPE, "iri", "T"),
                      (ENTITY + n, SKOS + "prefLabel", "literal",
                       "entity" + n)]

        def write(name, qs):
            d = os.path.join(tmp, name)
            os.makedirs(d)
            cols = list(zip(*qs))
            none = pa.array([None] * len(qs), pa.string())
            pq.write_table(pa.table({
                "g": none, "sk": ["iri"] * len(qs),
                "s": cols[0], "p": cols[1], "ok": cols[2], "o": cols[3],
                "odt": none, "olg": none}),
                os.path.join(d, "part.parquet"))
            return d

        ok_dir = write("ok", quads)
        assert check_kg_counts(con, ok_dir, pages) == []
        short = write("short", quads[1:])
        assert check_kg_counts(con, short, pages)
        assert check_same_set(con, ok_dir, short)
        assert check_same_set(con, ok_dir, write("dup", quads + quads)) == []
        legacy = write("legacy", [(s, p, k, o.replace("/entity/", "/legacy/"))
                                  for s, p, k, o in quads])
        assert check_kg_counts(con, legacy, pages)
        q = {"name": "labels", "kind": "select",
             "sql": f"SELECT s, o FROM Q WHERE p = '{SKOS}prefLabel'"}
        right = con.execute(f"SELECT s, o FROM {_quads(ok_dir)} "
                            f"WHERE p = '{SKOS}prefLabel'").fetchall()
        assert check_query(con, ok_dir, q, right) == []
        assert check_query(con, ok_dir, q, right[1:] + [("x", "y")])
        ask = {"name": "ask", "kind": "ask",
               "sql": f"SELECT count(*) > 0 FROM Q WHERE o = '{ENTITY}7'"}
        assert check_query(con, ok_dir, ask, True) == []
        assert check_query(con, ok_dir, ask, False)
    print("checks self-test passed")


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        _self_test()
    else:
        print("usage: python3 perfbench/checks.py --self-test",
              file=sys.stderr)
        sys.exit(2)

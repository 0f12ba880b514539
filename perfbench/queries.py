"""The seeded SPARQL query mix and its DuckDB SQL twins.

Each query is sent as text to ``sparql(quads, text, stats)``; its answer
is checked against the SQL, run by DuckDB over the pipeline's quad
parquet (``Q`` stands for that table: columns s, p, ok, o, odt, olg).
Constants are drawn from the seed: "hot" entities have high ids, which
the page generator's sqrt skew makes frequent; "rare" ones have low ids.
"""

from __future__ import annotations

import random

KG = "http://kg.example.org/"
M = KG + "def/mentions"
E = KG + "entity/"
LANG = "http://purl.org/dc/terms/language"
LABEL = "http://www.w3.org/2004/02/skos/core#prefLabel"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
PFX = ("PREFIX kg: <http://kg.example.org/def/> "
       "PREFIX dct: <http://purl.org/dc/terms/> "
       "PREFIX skos: <http://www.w3.org/2004/02/skos/core#> ")


def query_mix(seed: int, n_entities: int) -> list[dict]:
    rng = random.Random(f"queries:{seed}")
    hot = [n_entities - 1 - rng.randrange(20) for _ in range(3)]
    rare = [rng.randrange(1, 30) for _ in range(2)]
    lang = rng.choice(["en", "fr", "de", "es"])
    thr = 3 * rng.randint(8, 12)   # mentions; hot entities have ~40
    h0, h1, h2 = (f"{E}{n}" for n in hot)
    r0, r1 = (f"{E}{n}" for n in rare)
    mix = [
        {"name": "star", "kind": "select",
         "text": f"SELECT ?page ?lang WHERE {{ ?page kg:mentions <{h0}> ; "
                 "dct:language ?lang }",
         "sql": f"SELECT a.s, b.o FROM Q a JOIN Q b ON a.s = b.s "
                f"WHERE a.p = '{M}' AND a.o = '{h0}' AND b.p = '{LANG}'"},
        {"name": "optional", "kind": "select",
         "text": f"SELECT ?page ?x WHERE {{ ?page kg:mentions <{h1}> . "
                 "OPTIONAL { ?page kg:mentions ?x . ?x skos:prefLabel "
                 f"\"entity{hot[2]}\" }} }}",
         "sql": f"SELECT a.s, b.o FROM (SELECT s FROM Q WHERE p = '{M}' "
                f"AND o = '{h1}') a LEFT JOIN (SELECT m.s, m.o FROM Q m "
                f"JOIN Q l ON m.o = l.s WHERE m.p = '{M}' AND l.p = "
                f"'{LABEL}' AND l.o = 'entity{hot[2]}') b ON a.s = b.s"},
        {"name": "filter", "kind": "select",
         "text": f"SELECT ?page WHERE {{ ?page kg:mentions <{h2}> ; "
                 f"dct:language ?lang FILTER(?lang != \"{lang}\") }}",
         "sql": f"SELECT a.s FROM Q a JOIN Q b ON a.s = b.s "
                f"WHERE a.p = '{M}' AND a.o = '{h2}' AND b.p = '{LANG}' "
                f"AND b.o <> '{lang}'"},
        {"name": "values", "kind": "select",
         "text": f"SELECT ?e ?l WHERE {{ VALUES ?e {{ <{h0}> <{r0}> <{r1}> }}"
                 " ?e skos:prefLabel ?l }",
         "sql": f"SELECT s, o FROM Q WHERE p = '{LABEL}' "
                f"AND s IN ('{h0}', '{r0}', '{r1}')"},
        {"name": "union", "kind": "select",
         "text": f"SELECT ?page WHERE {{ {{ ?page kg:mentions <{h1}> }} "
                 f"UNION {{ ?page kg:mentions <{r0}> }} }}",
         "sql": f"SELECT s FROM Q WHERE p = '{M}' AND o = '{h1}' "
                f"UNION ALL SELECT s FROM Q WHERE p = '{M}' AND o = '{r0}'"},
        {"name": "minus", "kind": "select",
         "text": f"SELECT ?page WHERE {{ ?page kg:mentions <{h2}> "
                 f"MINUS {{ ?page dct:language \"{lang}\" }} }}",
         "sql": f"SELECT s FROM Q WHERE p = '{M}' AND o = '{h2}' "
                f"AND s NOT IN (SELECT s FROM Q WHERE p = '{LANG}' "
                f"AND o = '{lang}')"},
        {"name": "group_having", "kind": "select",
         "text": "SELECT ?e (COUNT(?page) AS ?n) WHERE { ?page kg:mentions"
                 f" ?e }} GROUP BY ?e HAVING (COUNT(?page) > {thr})",
         "sql": f"SELECT o, count(*) FROM Q WHERE p = '{M}' GROUP BY o "
                f"HAVING count(*) > {thr}"},
        {"name": "subselect", "kind": "select",
         "text": "SELECT ?e ?t WHERE { { SELECT DISTINCT ?e WHERE { "
                 f"?page kg:mentions ?e ; dct:language \"{lang}\" }} }} "
                 "?e a ?t }",
         "sql": f"SELECT DISTINCT t.s, t.o FROM Q t JOIN Q m ON t.s = m.o "
                f"JOIN Q l ON m.s = l.s WHERE t.p = '{TYPE}' AND m.p = '{M}'"
                f" AND l.p = '{LANG}' AND l.o = '{lang}'"},
        {"name": "path", "kind": "select",
         "text": f"SELECT ?page ?l WHERE {{ ?page kg:mentions <{h0}> . "
                 "?page kg:mentions/skos:prefLabel ?l }",
         "sql": f"SELECT a.s, l.o FROM Q a JOIN Q b ON a.s = b.s "
                f"JOIN Q l ON b.o = l.s WHERE a.p = '{M}' AND a.o = '{h0}' "
                f"AND b.p = '{M}' AND l.p = '{LABEL}'"},
        {"name": "ask", "kind": "ask",
         "text": f"ASK {{ ?page kg:mentions <{r1}> }}",
         "sql": f"SELECT count(*) > 0 FROM Q WHERE p = '{M}' AND o = '{r1}'"},
        {"name": "describe", "kind": "quads",
         "text": f"DESCRIBE <{r0}>",
         "sql": f"SELECT s, p, o FROM Q WHERE s = '{r0}' OR o = '{r0}'"},
        {"name": "construct", "kind": "quads",
         "text": f"CONSTRUCT {{ <{h1}> kg:mentionedOn ?page }} WHERE {{ "
                 f"?page kg:mentions <{h1}> }}",
         "sql": f"SELECT '{h1}', '{KG}def/mentionedOn', s FROM Q "
                f"WHERE p = '{M}' AND o = '{h1}'"},
    ]
    for q in mix:
        q["text"] = PFX + q["text"]
    return mix

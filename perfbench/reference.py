"""Expected outputs for one seed, computed by DuckDB in a child process.

The KG side is checked against the project's DuckDB oracle
(``oracle.kg_sql``), a second implementation of the mapping rules that
shares no code with the Spark operators.  The six canned queries are
re-expressed below as plain SQL over that oracle KG, with the literals the
seed picked (the museum city is picked here, among the features that
parent museums).  The runner starts this as a child process and waits for
it before the Spark session starts, so DuckDB neither shares the CPUs with
the measured side nor stays in its memory.

Usage: python3 perfbench/reference.py <inputs-dir> <replicate> <json-args>
prints one JSON object.
"""

from __future__ import annotations

import json
import sys

GN = "http://www.geonames.org/ontology#"
SWS = "https://sws.geonames.org/"
P = {
    "type": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    "code": GN + "featureCode",
    "name": GN + "name",
    "parent": GN + "parentFeature",
    "pop": GN + "population",
    "muni": "http://www.wikidata.org/prop/direct/P439",
    "lat": "http://www.w3.org/2003/01/geo/wgs84_pos#lat",
    "long": "http://www.w3.org/2003/01/geo/wgs84_pos#long",
}

ENT = "CREATE TABLE ent AS SELECT subj, " + ", ".join(
    f"MAX(CASE WHEN pred = '{p}' THEN obj END) AS {c}" for c, p in P.items()
) + " FROM kg GROUP BY subj"


def _closure(edge_src: str, edge_dst: str, seed: str) -> str:
    return f"""
WITH RECURSIVE walk(node) AS (
  SELECT '{seed}'
  UNION
  SELECT e.{edge_dst} FROM walk w JOIN edges e ON e.{edge_src} = w.node
)"""


def pick_city(con, seed: int) -> int:
    """A seeded ADM3/ADM4 feature (k in 50..109) that parents museums."""
    import random

    cities = [r[0] for r in con.execute(f"""
        SELECT CAST(split_part(c.subj, '/', 4) AS INT) AS k FROM ent c
        WHERE c.subj IN (SELECT parent FROM ent WHERE code = '{GN}S.MUS')
          AND c.lat IS NOT NULL AND c.long IS NOT NULL
          AND CAST(split_part(c.subj, '/', 4) AS INT) BETWEEN 50 AND 109
        ORDER BY k""").fetchall()]
    return random.Random(seed).choice(cities)


def query_rows(con, lit: dict) -> dict:
    """Row counts of the six canned queries at the seed's literals."""
    adm1, place, city = (SWS + f"{lit[k]}/" for k in ("adm1", "place", "city"))
    anc = _closure("child", "parent", place)
    q = {
        "c2_population": f"""SELECT count(*) FROM ent
            WHERE code = '{GN}A.ADM4' AND CAST(pop AS BIGINT) > 500000""",
        "c4_descendants": _closure("parent", "child", adm1)
        + " SELECT count(*) FROM walk",
        "ancestors": anc + " SELECT count(*) FROM walk",
        "c8_hierarchy": anc + """ SELECT count(*) FROM walk w JOIN ent e
            ON e.subj = w.node WHERE e.code IS NOT NULL
            AND e.lat IS NOT NULL AND e.long IS NOT NULL""",
        "c9_museums": f"""SELECT least(count(*), 100) FROM ent m, ent c
            WHERE c.subj = '{city}' AND m.parent = '{city}'
            AND m.code = '{GN}S.MUS' AND m.name IS NOT NULL
            AND m.lat IS NOT NULL AND m.long IS NOT NULL""",
        "municipalities": f"""SELECT count(*) FROM ent
            WHERE type = '{GN}Feature' AND parent = '{adm1}'
            AND code IS NOT NULL AND name IS NOT NULL AND muni IS NOT NULL
            AND pop IS NOT NULL AND lat IS NOT NULL AND long IS NOT NULL""",
    }
    return {k: con.execute(v).fetchone()[0] for k, v in q.items()}


def main() -> None:
    import duckdb

    from geonames_rdf_spark import oracle

    inputs, replicate, args = sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3])
    con = duckdb.connect()
    # the replicate scheme of synth.register_gazetteer: copy c of every
    # customer/order key is offset by c*1e6 / c*1e7
    con.execute(f"""CREATE VIEW customer AS
        SELECT c_custkey + r * 1000000 AS c_custkey
        FROM read_parquet('{inputs}/customer.parquet'), range({replicate}) t(r)""")
    con.execute(f"""CREATE VIEW orders AS
        SELECT o_orderkey + r * 10000000 AS o_orderkey,
               o_custkey + r * 1000000 AS o_custkey
        FROM read_parquet('{inputs}/orders.parquet'), range({replicate}) t(r)""")
    out: dict = {}
    if args.get("surfaces"):
        out["surfaces"] = [r[0] for r in con.execute(
            oracle.kg_prefix() + " SELECT DISTINCT bestName FROM fbn"
            " WHERE bestName IS NOT NULL AND bestName <> ''"
            " ORDER BY bestName LIMIT ?", [args["surfaces"]]).fetchall()]
    if args.get("kg") or args.get("literals"):
        con.execute("CREATE TABLE kg AS " + oracle.kg_sql())
        out["triples"] = con.execute("SELECT count(*) FROM kg").fetchone()[0]
    if args.get("literals"):
        con.execute(ENT)
        con.execute(f"""CREATE TABLE edges AS SELECT subj AS child,
            obj AS parent FROM kg WHERE pred = '{P['parent']}'""")
        lit = args["literals"]
        lit["city"] = out["city"] = pick_city(con, args["seed"])
        out["rows"] = query_rows(con, lit)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Seeded input generator for the benchmark workloads.

Each workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical files. The total amount of work is held nearly
constant across seeds (fixed row, turn, quad and document counts); a seed
only moves the *shape* properties listed below, so seed-to-seed spread in
the timings measures the engine, not the input size.

kg_build (events / documents / nation parquet, the sf-shaped tables that
graft.sources.Transcripts derives conversations from):
  - conversation count and length: the mean turns per conversation and the
    Zipf skew of conversation lengths (a few very long conversations);
  - text length: the spread of document lengths around a fixed mean;
  - duplicate-triple rate: how often a document repeats an entity it
    already names in another alias spelling (same canonical entity, so the
    final distinct removes the repeat);
  - duplicate documents: the share of near-duplicate (1-2 tokens appended)
    and exact (case-changed) copies, which sets the work of the dedup
    layer that the traced run measures over this table.
  - for the integrate layer, which the traced run measures: one N-Quads
    file and a CONSTRUCT + SELECT script; the seed varies the out-degree
    of `knows`, the org fan-in and the age cut of the FILTER.
serve_lookup: a query mix over one fixed store (kg tables of a fixed seed
  at an eighth of the kg_build size, materialized once per store key); the seed
  picks which conversations and entities are hot or cold.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KG_EVENTS = 64_000
KG_DOCS = 4_000
SERVE_TABLES_SEED = 7
SERVE_EVENTS = 8_000
SERVE_DOCS = 500
BGP_PERSONS = 20_000
BGP_ORGS = 2_000
BGP_CITIES = 200
N_QUERIES = 64

VOCAB = ("batch part spark line column order small sort value scan hash slow "
         "group fast agg filter query big key window row table stream merge "
         "data join vector customer the a of to in for").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SURFACE_FORMS = ["NATION_{}", "nation {}", "Nation-{}"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _entity_phrase(rng, dup_rate):
    """One or more alias spellings of one entity, repeated at `dup_rate`."""
    e = int(rng.integers(0, 25))
    words = [SURFACE_FORMS[int(rng.integers(0, 3))].format(e)]
    if rng.random() < dup_rate:
        words.append(SURFACE_FORMS[int(rng.integers(0, 3))].format(e))
    return words


def kg_tables(out_dir, seed, n_events, n_docs):
    """events / documents / nation parquet tables with the sf schema."""
    rng = np.random.default_rng([seed, 1])
    mean_turns = float(rng.uniform(30, 60))
    skew = float(rng.uniform(0.2, 1.0))
    len_sigma = float(rng.uniform(0.2, 0.6))
    dup_rate = float(rng.uniform(0.1, 0.5))
    near_rate = float(rng.uniform(0.1, 0.3))
    exact_rate = float(rng.uniform(0.05, 0.15))

    # documents: fixed doc count and mean length; entity mentions inline
    lengths = np.maximum(4, rng.lognormal(np.log(40) - len_sigma ** 2 / 2,
                                          len_sigma, n_docs)).astype(int)
    texts = []
    for n in lengths:
        r = rng.random()
        if texts and r < near_rate:  # near duplicate: 1-2 tokens appended
            extra = rng.integers(0, len(VOCAB), int(rng.integers(1, 3)))
            texts.append(texts[int(rng.integers(0, len(texts)))] + " " +
                         " ".join(VOCAB[i] for i in extra))
            continue
        if texts and r < near_rate + exact_rate:  # same text, other case
            texts.append(texts[int(rng.integers(0, len(texts)))].upper())
            continue
        toks = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
        for _ in range(int(rng.integers(0, 3))):
            pos = int(rng.integers(0, len(toks) + 1))
            toks[pos:pos] = _entity_phrase(rng, dup_rate)
        texts.append(" ".join(toks))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # events: conversation (user) lengths Zipf-skewed around a fixed mean
    n_users = max(1, int(round(n_events / mean_turns)))
    w = 1.0 / np.arange(1, n_users + 1) ** skew
    users = rng.choice(n_users, size=n_events, p=w / w.sum())
    users = rng.permutation(n_users)[users]  # hot users get scattered ids
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts + 1_704_067_200_000_000, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in etype],
        "value": pa.array(np.round(rng.uniform(0, 200, n_events), 2)),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(events, os.path.join(out_dir, "events.parquet"))
    _write(nation, os.path.join(out_dir, "nation.parquet"))
    return {"mean_turns": mean_turns, "conv_skew": skew,
            "text_len_sigma": len_sigma, "dup_rate": dup_rate,
            "near_dup_rate": near_rate, "exact_dup_rate": exact_rate,
            "n_users": n_users, "n_events": n_events, "n_docs": n_docs}


EX = "http://ex.org/"

BGP_SCRIPT = """PREFIX ex: <http://ex.org/>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
CONSTRUCT { GRAPH <http://ex.org/out/workplace> { ?p ex:worksInCity ?cn . ?p ex:employer ?on } }
WHERE {
  ?c ex:name ?cn .
  ?o ex:locatedIn ?c .
  ?o ex:name ?on .
  ?p ex:worksFor ?o .
  ?p ex:age ?age .
  ?p rdf:type ex:Person .
  FILTER(?age >= AGE_CUT)
}
;
PREFIX ex: <http://ex.org/>
SELECT ?cn (COUNT(*) AS ?n)
WHERE {
  ?c ex:name ?cn .
  ?q ex:livesIn ?c .
  ?p ex:knows ?q .
}
GROUP BY ?cn
"""


def bgp_inputs(out_dir, seed):
    """One N-Quads file (persons / orgs / cities across 8 source graphs)
    and the integrate script. The star on ?p plus the chain ?p-?o-?c is
    written in adversarial order: the least selective pattern (every
    named node) first, the selective FILTER'd star last."""
    rng = np.random.default_rng([seed, 2])
    # knows_mean and age_cut set the join and output sizes: narrow ranges
    # keep the work per seed within a few per cent
    knows_mean = float(rng.uniform(2.4, 2.6))
    org_skew = float(rng.uniform(0.0, 1.0))
    age_cut = int(rng.integers(39, 42))
    P, O, C = BGP_PERSONS, BGP_ORGS, BGP_CITIES

    def g(i):
        return f"<{EX}g/src{i % 8}>"
    lines = []
    typ = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    for c in range(C):
        s, gg = f"<{EX}city/{c}>", g(c)
        lines += [f"{s} {typ} <{EX}City> {gg} .",
                  f'{s} <{EX}name> "City {c}" {gg} .']
    wo = 1.0 / np.arange(1, O + 1) ** org_skew
    org_city = rng.integers(0, C, O)
    for o in range(O):
        s, gg = f"<{EX}org/{o}>", g(o)
        lines += [f"{s} {typ} <{EX}Org> {gg} .",
                  f'{s} <{EX}name> "Org {o}" {gg} .',
                  f"{s} <{EX}locatedIn> <{EX}city/{org_city[o]}> {gg} ."]
    works = rng.choice(O, size=P, p=wo / wo.sum())
    ages = rng.integers(18, 70, P)
    lives = rng.integers(0, C, P)
    n_knows = rng.poisson(knows_mean, P)
    for p in range(P):
        s, gg = f"<{EX}person/{p}>", g(p)
        lines += [f"{s} {typ} <{EX}Person> {gg} .",
                  f'{s} <{EX}name> "Person {p}" {gg} .',
                  f'{s} <{EX}age> "{ages[p]}"^^<http://www.w3.org/2001/XMLSchema#integer> {gg} .',
                  f"{s} <{EX}worksFor> <{EX}org/{works[p]}> {gg} .",
                  f"{s} <{EX}livesIn> <{EX}city/{lives[p]}> {gg} ."]
        for q in sorted(set(rng.integers(0, P, n_knows[p]).tolist()) - {p}):
            lines.append(f"{s} <{EX}knows> <{EX}person/{q}> {gg} .")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "data.nq"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "script.sparql"), "w") as f:
        f.write(BGP_SCRIPT.replace("AGE_CUT", str(age_cut)))
    return {"knows_mean": knows_mean, "org_skew": org_skew,
            "age_cut": age_cut, "n_quads": len(lines)}


G = "http://graft.io/g/"
P_ = "http://graft.io/p/"
ALIAS = "http://graft.io/alias/NATION_"


def serve_tables(out_dir):
    """The fixed tables the serve_lookup store is built from: one store per
    checkout, since building it takes a JVM of its own."""
    return kg_tables(out_dir, SERVE_TABLES_SEED, SERVE_EVENTS, SERVE_DOCS)


def serve_inputs(out_dir, seed, tables):
    """The query mix over the store of `tables`. Each query names its
    template and parameters; oracle.py derives the expected answer per
    template from the DuckDB oracle."""
    props = {}
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    ev = pq.read_table(os.path.join(tables, "events.parquet"),
                       columns=["user_id"]).column("user_id").to_numpy()
    uids, counts = np.unique(ev, return_counts=True)
    hot = uids[np.argsort(-counts)[:8]]
    queries = []
    kinds = ["select_graph", "select_graph", "count_mentions", "ask",
             "construct_role"]
    for i in range(N_QUERIES):
        kind = kinds[i % len(kinds)]
        cold = rng.random() < 0.3
        conv = (f"conv-{900_000_000 + int(rng.integers(0, 1_000_000)):012d}"
                if cold else f"conv-{int(rng.choice(hot)):012d}")
        ent = (f"{ALIAS}99/{int(rng.integers(0, 3))}" if cold
               else f"{ALIAS}{int(rng.choice([0, 0, 1, 2, 3]))}/0")
        if kind == "select_graph":
            text = (f"SELECT ?s ?p ?o WHERE {{ GRAPH <{G}{conv}> "
                    f"{{ ?s ?p ?o }} }}")
            params = {"graph": f"<{G}{conv}>"}
        elif kind == "count_mentions":
            text = (f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH ?g "
                    f"{{ ?t <{P_}mentions> <{ent}> }} }}")
            params = {"obj": f"<{ent}>"}
        elif kind == "ask":
            text = (f"ASK {{ GRAPH <{G}{conv}> {{ ?t <{P_}mentions> "
                    f"<{ent}> }} }}")
            params = {"graph": f"<{G}{conv}>", "obj": f"<{ent}>"}
        else:
            role = ["user", "assistant", "tool", "system"][i % 4]
            text = (f"CONSTRUCT {{ ?t <{P_}said> ?x }} WHERE {{ GRAPH <{G}{conv}> "
                    f"{{ ?t <{P_}role> \"{role}\" . ?t <{P_}text> ?x }} }}")
            params = {"graph": f"<{G}{conv}>", "role": f'"{role}"'}
        queries.append({"id": i, "kind": kind, "text": text,
                        "params": params})
    with open(os.path.join(out_dir, "queries.json"), "w") as f:
        json.dump(queries, f)
    with open(os.path.join(out_dir, "queries.tsv"), "w") as f:
        f.writelines(f"{q['id']}\t{q['kind']}\t{q['text']}\n" for q in queries)
    props["n_queries"] = len(queries)
    return props


def generate(workload, seed, out_dir, serve_tables=None):
    """Write the inputs of `workload` for `seed` into `out_dir` (created)
    and return the seed's varied properties. serve_lookup's queries are
    drawn against `serve_tables` (see serve_tables())."""
    if workload == "kg_build":
        return {**kg_tables(out_dir, seed, KG_EVENTS, KG_DOCS),
                **bgp_inputs(out_dir, seed)}
    if workload == "serve_lookup":
        return serve_inputs(out_dir, seed, serve_tables)
    raise ValueError(f"unknown workload {workload}")

"""Seeded input generators.  The same seed gives the same inputs; the
program under test sees only what these functions write.

Each generator also returns the ground truth the benchmark checks
outputs against, computed here from the generated values and never
from kgloom.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KG = "http://kg.example/"

# The transcript text grammar kgloom's mention detector targets
# (kgloom/transcripts/generate.py): four surface variants of entity k,
# all normalizing back to the digits of k.
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "browser", "python", "calculator", "sql", "editor"]
VARIANTS = ["Entity_{}", "entity {}", "E-{}", "ENT:{}"]
FILLER = ["considering", "the", "relevant", "context", "we", "should",
          "review", "results", "carefully", "before", "proceeding"]


def zipf_choice(rng: np.random.Generator, n_items: int, size: int,
                s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def rank_within(groups: np.ndarray) -> np.ndarray:
    """0-based position of each element among the elements of its group,
    in input order."""
    order = np.argsort(groups, kind="stable")
    sorted_g = groups[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_g)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, len(groups)]))
    out = np.empty(len(groups), dtype=np.int64)
    out[order] = np.arange(len(groups)) - run_start
    return out


def _write_files(table: pa.Table, dest: str, n_files: int) -> None:
    os.makedirs(dest, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(dest, f"part-{i:05d}.parquet"))


# -- build: transcripts --------------------------------------------------------

def transcripts(seed: int, n_turns: int, dest: str, truth_dest: str,
                n_convs: int = 400, n_entities: int = 300,
                n_files: int = 8) -> None:
    """A Zipf-skewed transcript table (conv_id, turn_idx, role, text,
    tool, ts) as ``n_files`` parquet files under ``dest``, and the
    entity ground truth (conv_id, turn_idx, ent) under ``truth_dest``."""
    rng = np.random.default_rng([seed, 1])
    conv = zipf_choice(rng, n_convs, n_turns)
    turn = rank_within(conv)
    role_i = turn % 3
    tool_i = rng.integers(0, len(TOOLS), n_turns)
    ent = rng.integers(0, n_entities, n_turns)
    variant = rng.integers(0, len(VARIANTS), n_turns)
    has2 = rng.random(n_turns) < 1 / 3
    ent2 = rng.integers(0, n_entities, n_turns)
    filler = rng.integers(0, len(FILLER), n_turns)
    conv_id = [f"conv-{c}" for c in conv]
    roles = [ROLES[r] for r in role_i]
    tools = [TOOLS[t] if r == 2 else None for r, t in zip(role_i, tool_i)]
    text = [
        f"turn {ti}: {ROLES[r]} discusses {VARIANTS[v].format(e)}"
        f"{f' and also Entity_{e2}' if h else ''} via {tl or 'chat'}"
        f" while {FILLER[fi]}"
        for ti, r, v, e, h, e2, tl, fi in zip(
            turn, role_i, variant, ent, has2, ent2, tools, filler)]
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (conv * 100_000 + turn * 7).astype("timedelta64[s]"))
    table = pa.table({
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    _write_files(table, dest, n_files)
    second = np.flatnonzero(has2)
    truth = pa.table({
        "conv_id": pa.array(conv_id + [conv_id[i] for i in second]),
        "turn_idx": pa.array(np.r_[turn, turn[second]], pa.int32()),
        "ent": pa.array(np.r_[ent, ent2[second]], pa.int64()),
    })
    _write_files(truth, truth_dest, 1)


# -- query: the events table of the query families ---------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events(seed: int, n_events: int, n_users: int, dest: str) -> None:
    """The ``events`` table of the query families' input
    (event_id, ts, user_id, event_type, value, props) as
    ``dest/events.parquet``."""
    rng = np.random.default_rng([seed, 2])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)
                         ).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_events), 2)),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]),
    })
    os.makedirs(dest, exist_ok=True)
    pq.write_table(table, os.path.join(dest, "events.parquet"))


# -- mapping: RML and ShExML documents ----------------------------------------

EX = "http://example.com/"
RML_PREFIXES = """@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
@prefix ex: <http://example.com/> .
@base <http://example.com/base/> .
"""
LANGS = ["en", "de", "fr", "nl"]
BAD_LANGS = ["en-", "12-x", "e n"]


@dataclass
class MappingDoc:
    name: str
    kind: str                       # "rml" or "shexml"
    text: str
    expected: set[str] = field(default_factory=set)
    invalid: bool = False


def _csv_rows(rng, n, prefix):
    return [(i, f"{prefix} {int(v)}", int(c))
            for i, v, c in zip(range(n), rng.integers(0, 10_000, n),
                               rng.integers(0, max(1, n // 4), n))]


def mapping_docs(seed: int, dest: str, n_rows: int = 40) -> list[MappingDoc]:
    """Three mapping documents over CSV and JSON sources written under
    ``dest``: a valid RML mapping (2 CSV triples maps and a JSON one), a ShExML document (2 CSV maps), and an RML mapping with a
    malformed language tag, which must be rejected at compile time.
    Each valid document carries its expected N-Quads set."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(dest, exist_ok=True)
    docs = []
    for d, (kind, invalid) in enumerate(
            [("rml", False), ("shexml", False), ("rml", True)]):
        n_maps = 3 if invalid else 2
        rows = {}
        for m in range(n_maps):
            rows[m] = _csv_rows(rng, n_rows, f"item{m}")
            with open(os.path.join(dest, f"d{d}_m{m}.csv"), "w") as f:
                f.write("id,label,ref\n")
                f.writelines(f"{i},{lab},{r}\n" for i, lab, r in rows[m])
        with open(os.path.join(dest, f"d{d}_json.json"), "w") as f:
            json.dump({"items": [{"id": str(i), "name": f"json {i}"}
                                 for i in range(n_rows // 2)]}, f)
        if kind == "rml":
            docs.append(_rml_doc(rng, d, n_maps, rows, invalid, dest, n_rows))
        else:
            docs.append(_shexml_doc(rng, d, n_maps, rows, dest))
    return docs


def _rml_doc(rng, d, n_maps, rows, invalid, dest, n_rows) -> MappingDoc:
    """The seed picks which triples map carries the class, the named
    graph and the ref-object join, and the language tags; the triple
    count does not depend on it."""
    parts, expected = [RML_PREFIXES], set()
    cls_map, graph_map = rng.permutation(n_maps)[:2]
    join_map = int(rng.integers(1, n_maps))
    for m in range(n_maps):
        cls = f"ex:Class{m}" if m == cls_map else None
        graph = f"ex:graph{m}" if m == graph_map else None
        lang = LANGS[int(rng.integers(0, len(LANGS)))] \
            if rng.random() < 0.5 else None
        join = m == join_map
        if invalid and m == n_maps - 1:
            lang = BAD_LANGS[int(rng.integers(0, len(BAD_LANGS)))]
        g_iri = f"<{EX}{graph[3:]}>" if graph else None
        sm = [f'rr:template "{EX}t{m}/{{id}}"']
        if cls:
            sm.append(f"rr:class {cls}")
        if graph:
            sm.append(f"rr:graph {graph}")
        lab_om = '[ rml:reference "label"' + \
            (f' ; rr:language "{lang}"' if lang else "") + " ]"
        poms = [f"rr:predicateObjectMap [ rr:predicate ex:label{m} ; "
                f"rr:objectMap {lab_om} ]"]
        if join:
            poms.append(
                f"rr:predicateObjectMap [ rr:predicate ex:ref{m} ; "
                f"rr:objectMap [ rr:parentTriplesMap <TM0> ; rr:joinCondition "
                f'[ rr:child "ref" ; rr:parent "id" ] ] ]')
        parts.append(
            f'<TM{m}> a rr:TriplesMap ;\n'
            f'  rml:logicalSource [ rml:source "d{d}_m{m}.csv" ; '
            f"rml:referenceFormulation ql:CSV ] ;\n"
            f"  rr:subjectMap [ {' ; '.join(sm)} ] ;\n  "
            + " ;\n  ".join(poms) + " .\n")
        for i, lab, ref in rows[m]:
            s = f"<{EX}t{m}/{i}>"
            tail = f" {g_iri} ." if g_iri else " ."
            if cls:
                expected.add(f"{s} <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
                             f" <{EX}{cls[3:]}>{tail}")
            o = f'"{lab}"' + (f"@{lang}" if lang else "")
            expected.add(f"{s} <{EX}label{m}> {o}{tail}")
            if join:
                # rows of the parent source whose id equals this row's ref
                for pid, _, _ in rows[0]:
                    if pid == ref:
                        expected.add(f"{s} <{EX}ref{m}> <{EX}t0/{pid}>{tail}")
    parts.append(
        '<TMJ> a rr:TriplesMap ;\n'
        f'  rml:logicalSource [ rml:source "d{d}_json.json" ; '
        'rml:referenceFormulation ql:JSONPath ; rml:iterator "$.items[*]" ] ;\n'
        f'  rr:subjectMap [ rr:template "{EX}j/{{id}}" ] ;\n'
        '  rr:predicateObjectMap [ rr:predicate ex:name ; '
        'rr:objectMap [ rml:reference "name" ] ] .\n')
    for i in range(n_rows // 2):
        expected.add(f'<{EX}j/{i}> <{EX}name> "json {i}" .')
    return MappingDoc(f"rml{d}", "rml", "\n".join(parts),
                      set() if invalid else expected, invalid)


def _shexml_doc(rng, d, n_maps, rows, dest) -> MappingDoc:
    lines, expected = [f"PREFIX : <{EX}>"], set()
    for m in range(n_maps):
        lines += [f"SOURCE src{m} <{os.path.join(dest, f'd{d}_m{m}.csv')}>",
                  f"ITERATOR it{m} <csvperrow> {{ FIELD id <id> "
                  f"FIELD label <label> }}",
                  f"EXPRESSION e{m} <src{m}.it{m}>"]
    for m in range(n_maps):
        lang = LANGS[int(rng.integers(0, len(LANGS)))] \
            if rng.random() < 0.5 else None
        obj = f"[e{m}.label] @{lang}" if lang else f"[e{m}.label]"
        lines.append(f":S{m} :[e{m}.id] {{ :label{m} {obj} ; }}")
        for i, lab, _ in rows[m]:
            o = f'"{lab}"' + (f"@{lang}" if lang else "")
            expected.add(f"<{EX}{i}> <{EX}label{m}> {o} .")
    return MappingDoc(f"shexml{d}", "shexml", "\n".join(lines) + "\n",
                      expected)


# -- stream: equal-size micro-batches ------------------------------------------

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
SAME_AS = "<http://www.w3.org/2002/07/owl#sameAs>"
PERSON = "<http://ex/Person>"
EMAIL = "<http://ex/email>"
KNOWS = "<http://ex/knows>"


def stream_batches(seed: int, n_batches: int, batch_rows: int, dest: str,
                   n_nodes: int = 4000) -> None:
    """``n_batches`` equal-size batches of (subj, pred, obj) triples --
    types, emails, ``knows`` edges and a few sameAs links -- each one
    parquet file under ``dest/b<k>``."""
    rng = np.random.default_rng([seed, 4])
    for b in range(n_batches):
        node = rng.integers(0, n_nodes, batch_rows)
        kind = rng.random(batch_rows)
        other = rng.integers(0, n_nodes, batch_rows)
        subj = [f"<http://ex/n{n}>" for n in node]
        pred = np.select([kind < 0.25, kind < 0.5, kind < 0.97],
                         [RDF_TYPE, EMAIL, KNOWS], SAME_AS).tolist()
        obj = [PERSON if p == RDF_TYPE else
               f'"n{n}.{o % 4}@x"' if p == EMAIL else f"<http://ex/n{o}>"
               for p, n, o in zip(pred, node, other)]
        _write_files(pa.table({"subj": subj, "pred": pred, "obj": obj}),
                     os.path.join(dest, f"b{b}"), 1)

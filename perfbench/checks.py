"""Output checks and quality scores, all computed in the benchmark
process from the parquet tables a unit wrote (pyarrow, no Spark job),
outside timing."""

from __future__ import annotations

import hashlib
import importlib.util
import os
import random
from collections import Counter

import pyarrow.parquet as pq

# the pipeline's stage -> table names, for the tables checks read back
TEXT, TRIPLES, ENTITIES, SURFACE_LINKS, NODES, EDGES = (
    "text_extracted", "triples", "entities", "surface_links", "nodes",
    "edges",
)


def read_table(out_dir: str, table: str, columns: list[str]):
    return pq.read_table(os.path.join(out_dir, table), columns=columns)


def content_hash(out_dir: str, table: str, columns: list[str]) -> str:
    """Order-independent hash of a table's rows over ``columns``; list
    cells are hashed as tuples."""
    t = read_table(out_dir, table, columns)
    cols = [t.column(c).to_pylist() for c in columns]
    rows = sorted(
        repr(tuple(tuple(v) if isinstance(v, list) else v for v in row))
        for row in zip(*cols)
    )
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


TRIPLES_COLS = ["url", "sent_id", "subj", "pred", "obj", "subj_span",
                "obj_span"]
NODES_COLS = ["entity_id", "canonical_id", "surface"]
EDGES_COLS = ["canonical_subj", "pred", "canonical_obj", "url", "warc_ts"]


def kg_hashes(out_dir: str) -> dict[str, str]:
    return {
        NODES: content_hash(out_dir, NODES, NODES_COLS),
        EDGES: content_hash(out_dir, EDGES, EDGES_COLS),
    }


def canon_pair_f1(out_dir: str, groups: list[list[str]],
                  singletons: tuple[str, ...] = ()) -> float:
    """Pairwise F1 of the ``nodes.canonical_id`` clusters against the
    true alias groups, over the surfaces whose truth is known: those in
    ``groups`` and the ``singletons`` that denote no other entity.
    Other surfaces (a name cut short by a truncated page, say) are left
    out, since nothing says which entity they denote. 1.0 when neither
    side has a pair."""
    t = read_table(out_dir, NODES, ["canonical_id", "surface"])
    truth = {s: i for i, g in enumerate(groups) for s in g}
    truth |= {s: ("solo", s) for s in singletons}
    known = [(c, truth[s]) for c, s in zip(t.column("canonical_id")
                                           .to_pylist(),
                                           t.column("surface").to_pylist())
             if s in truth]

    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts.values())

    tp = pairs(Counter(known))
    p_pairs = pairs(Counter(c for c, _g in known))
    g_pairs = pairs(Counter(g for _c, g in known))
    if p_pairs == 0 and g_pairs == 0:
        return 1.0
    if tp == 0:
        return 0.0
    precision, recall = tp / p_pairs, tp / g_pairs
    return 2 * precision * recall / (precision + recall)


def _load_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "kg_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def staged_build_failures(root: str, out_dir: str, pages_dir: str,
                          malformed: dict[str, str], seed: int,
                          sample: int = 60) -> list[str]:
    """Checks on a staged build's tables against the input snapshot:

    * every page, malformed ones included, has a text row (a bad row
      never fails the job or goes missing);
    * on a seeded sample of urls plus every malformed url, the text is
      byte-identical to the oracle's and triple precision and recall
      over (url, subj, pred, obj) are at least 0.95.
    """
    oracle = _load_oracle(root)
    pages = pq.read_table(pages_dir, columns=["url", "html"])
    html = dict(zip(pages.column("url").to_pylist(),
                    pages.column("html").to_pylist()))
    text_t = read_table(out_dir, TEXT, ["url", "text"])
    text = dict(zip(text_t.column("url").to_pylist(),
                    text_t.column("text").to_pylist()))
    failures = []
    if len(text) != len(html) or text_t.num_rows != len(html):
        failures.append(
            f"text rows {text_t.num_rows} (distinct {len(text)}) != "
            f"pages {len(html)}"
        )
    lost = sorted(u for u in malformed if u not in text)
    if lost:
        failures.append(f"malformed pages without a text row: {lost[:3]}")
    urls = sorted(html)
    chosen = sorted(set(random.Random(seed).sample(urls, min(sample,
                                                             len(urls))))
                    | set(malformed))
    tri = read_table(out_dir, TRIPLES, ["url", "subj", "pred", "obj"])
    chosen_set = set(chosen)
    got = {
        r for r in zip(*(tri.column(c).to_pylist()
                         for c in ("url", "subj", "pred", "obj")))
        if r[0] in chosen_set
    }
    want = set()
    for u in chosen:
        want_text = oracle.oracle_extract_text(html[u])
        if text.get(u) != want_text:
            failures.append(f"text differs from the oracle for {u}")
        want |= {(u, s, p, o) for _sid, s, p, o in
                 oracle.oracle_extract_triples(want_text)}
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    if precision < 0.95 or recall < 0.95:
        failures.append(
            f"triple P/R {precision:.3f}/{recall:.3f} below 0.95"
        )
    return failures

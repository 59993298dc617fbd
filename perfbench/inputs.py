"""Seeded workload inputs, generated once per run outside every timed
region and written as parquet under the run's work directory.

* ``write_pages`` — a snapshot of ``fixtures.gen_page`` rows (the same
  rows ``fixtures.pages_df`` produces) with a fixed share of malformed
  HTML injected: null, truncated mid-document, and non-UTF-8 bytes.
* ``write_wide_triples`` — a triples table over a wide, Zipf-skewed
  surface vocabulary of made-up organisation names, each with known
  alias variants; the alias groups are the ground truth for
  canonicalisation.

Generation is in-process Python + pyarrow (no Spark job), so it never
warms the engine before set-up is measured.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from clip_retrieval_spark.fixtures import SVO_VERBS, gen_page

MALFORMED_KINDS = ("null", "truncated", "non_utf8")

_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_TRIPLES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("sent_id", pa.int32()),
        ("subj", pa.string()),
        ("pred", pa.string()),
        ("obj", pa.string()),
        ("subj_span", pa.list_(pa.int32())),
        ("obj_span", pa.list_(pa.int32())),
    ]
)


def _malform(html: bytes, kind: str, rng: random.Random) -> bytes | None:
    if kind == "null":
        return None
    if kind == "truncated":
        return html[: rng.randrange(1, len(html))]
    # invalid UTF-8 lead/continuation bytes spliced into a paragraph
    cut = html.find(b"<p>") + 3
    return html[:cut] + b"\xff\xfe\xc3\x28 Bad \x80bytes " + html[cut:]


def write_pages(path: str, n_pages: int, seed: int,
                malformed_share: float = 0.02) -> dict:
    """Write the pages snapshot; return its size and the malformed urls
    by kind (the checks need them)."""
    rng = random.Random(seed)
    rows = [gen_page(i, seed) for i in range(n_pages)]
    n_bad = max(len(MALFORMED_KINDS), round(n_pages * malformed_share))
    malformed: dict[str, str] = {}
    for j, i in enumerate(rng.sample(range(n_pages), n_bad)):
        url, ts, html, text, lang = rows[i]
        kind = MALFORMED_KINDS[j % len(MALFORMED_KINDS)]
        rows[i] = (url, ts, _malform(html, kind, rng), text, lang)
        malformed[url] = kind
    cols = list(zip(*rows))
    table = pa.table(
        [
            pa.array(cols[0], pa.string()),
            pa.array(
                [t.replace(tzinfo=dt.timezone.utc) for t in cols[1]],
                pa.timestamp("us", tz="UTC"),
            ),
            pa.array(cols[2], pa.binary()),
            pa.array(cols[3], pa.string()),
            pa.array(cols[4], pa.string()),
        ],
        schema=_PAGES_ARROW,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"),
                   row_group_size=max(1, n_pages // 8))
    return {
        "pages": n_pages,
        "malformed": len(malformed),
        "bytes": os.path.getsize(os.path.join(path, "part-0.parquet")),
        "malformed_urls": malformed,
    }


_ONSETS = ("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "dr", "kl", "st", "tr", "ch")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")
_CODAS = ("", "", "n", "r", "s", "x", "th")
# designator variants: every one normalises (operators.materialize
# .normalized_surface) to the group's base name
_DESIGNATORS = (" Corp", " Inc", " Holdings", " Group", " Ltd", " LLC",
                " Corporation", " Co")


def _word(rng: random.Random) -> str:
    n = rng.randint(2, 3)
    w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(n))
    return (w + rng.choice(_CODAS)).capitalize()


def alias_groups(n_groups: int, seed: int) -> list[list[str]]:
    """``n_groups`` made-up organisations, each a list of 1-4 surface
    forms that all denote it. Base names are distinct after
    normalisation (lower-cased, designators dropped)."""
    rng = random.Random(seed ^ 0x5EED)
    seen: set[str] = set()
    groups: list[list[str]] = []
    while len(groups) < n_groups:
        base = f"{_word(rng)} {_word(rng)}"
        if base.lower() in seen:
            continue
        seen.add(base.lower())
        variants = [base] + [base + d for d in
                             rng.sample(_DESIGNATORS, rng.randint(0, 3))]
        groups.append(variants)
    return groups


def write_wide_triples(path: str, n_groups: int, n_triples: int,
                       seed: int, zipf_s: float = 1.1) -> tuple[dict, list]:
    """Write the refresh workload's triples table; return its size and
    the alias groups."""
    groups = alias_groups(n_groups, seed)
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_groups + 1) ** zipf_s
    weights /= weights.sum()
    flat = [s for g in groups for s in g]
    offsets = np.cumsum([0] + [len(g) for g in groups])
    sizes = np.diff(offsets)

    def pick(n: int) -> list[str]:
        g = rng.choice(n_groups, size=n, p=weights)
        k = (rng.random(n) * sizes[g]).astype(np.int64)
        return [flat[i] for i in offsets[g] + k]

    subj, obj = pick(n_triples), pick(n_triples)
    per_doc = 20
    doc = np.arange(n_triples) // per_doc
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table(
        [
            pa.array([f"https://wide.example/doc-{d}" for d in doc]),
            pa.array([t0 + dt.timedelta(seconds=int(d)) for d in doc],
                     pa.timestamp("us", tz="UTC")),
            pa.array(np.arange(n_triples) % per_doc, pa.int32()),
            pa.array(subj, pa.string()),
            pa.array(rng.choice(SVO_VERBS, size=n_triples).tolist(),
                     pa.string()),
            pa.array(obj, pa.string()),
            pa.array([[0, 1]] * n_triples, pa.list_(pa.int32())),
            pa.array([[2, 3]] * n_triples, pa.list_(pa.int32())),
        ],
        schema=_TRIPLES_ARROW,
    )
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "part-0.parquet")
    pq.write_table(table, out, row_group_size=max(1, n_triples // 8))
    surfaces = len(set(subj) | set(obj))
    return ({"triples": n_triples, "alias_groups": n_groups,
             "surfaces": surfaces, "bytes": os.path.getsize(out)}, groups)

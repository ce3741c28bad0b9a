"""Seeded request streams for the two workloads.

Every stream is an endless iterator of ``Request``. On ``ask`` the seed
picks the inputs (template parameters, which refused or failing canned
responses); the ops-sample stream is the same for every seed (see there
for why). The program only ever sees the resulting requests.

Requests come in rounds and a run issues whole rounds, each longer
than the benchmark's time box, so every run holds the same mix of
cheap and costly requests. A run holds 8 to 14 requests: with a random
mix, or a time box that cuts a round at a varying point, the median
moved by 30-40% between seeds (IQR, ten runs, 4-core host), because it
falls between the cheap and the costly requests.
"""

from __future__ import annotations

import json
import random
from collections.abc import Iterator
from dataclasses import dataclass, replace
from pathlib import Path

HERE = Path(__file__).resolve().parent

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

#: (family, question template, parameter choices). The phrasing is
#: what a user types; TemplateGenerator maps it to SQL.
ASK_FAMILIES: dict[str, tuple[str, dict[str, tuple]]] = {
    "nomatch": ("what is the meaning of life", {}),
    "segment": ("customers in segment {seg}", {"seg": SEGMENTS}),
    "priority": ("orders count by priority", {}),
    "tokens": ("top {n} tokens in the documents", {"n": (5, 10, 20)}),
    "funnel": ("conversion funnel", {}),
    "nation": ("revenue per nation", {}),
    "products": ("top {n} products", {"n": (3, 5, 10, 15, 20)}),
    "customers": ("top {n} customers per nation", {"n": (1, 2, 3)}),
}

#: One round of ask, cheapest first, as measured per request (warm
#: session, 4-core host, sf0.1): every canned response the engine
#: answers, one seeded draw each from the canned responses it must
#: refuse ("llm:rejected") or fail ("llm:error"), and the template
#: families above, which span the SQL shapes of the reference's
#: questions (filter, group-by, top-N, window, join, no match).
#: Presenting and exporting the error relation costs about 0.7 s, so
#: refusals are not cheap; all of them ride on the same path, hence one
#: draw per slot. Every seed issues the same kinds: two alternating
#: halves of a longer list put the median 60% apart between even and
#: odd seeds.
ASK_ROUND = (
    "llm:ctas_sliced", "llm:fenced_plain", "llm:prose_leading", "tpl:segment",
    "llm:fenced_sql", "tpl:priority", "tpl:tokens", "llm:rejected", "llm:error",
    "tpl:nomatch", "tpl:products", "tpl:funnel", "tpl:nation", "tpl:customers",
)

#: ops-sample strata over the cost-ranked pool: one query each per round.
OPS_STRATA = 8
#: The pool keeps the cheapest 95% of the ranked queries. The 5% above
#: about 3 s (4-core host) are single heavy queries, not the fixed
#: per-query cost this workload is for.
OPS_POOL_SHARE = 0.95


@dataclass(frozen=True)
class Request:
    key: str  # names the expected outcome
    kind: str  # "template" | "llm" | "op"
    text: str  # question (a fixture id for "llm"), or registry name
    ends_round: bool = False


def load_fixtures() -> dict:
    return json.loads((HERE / "fixtures.json").read_text())


def balanced_order(m: int) -> list[int]:
    """Bit-reversed (van der Corput) visiting order of ``m`` cost-sorted
    items: every prefix spreads over the whole cost range."""
    bits = max(1, (m - 1).bit_length())
    seq = [int(f"{i:0{bits}b}"[::-1], 2) for i in range(1 << bits)]
    return [j for j in seq if j < m]


def ask_keys() -> list[tuple[str, str]]:
    """Every (key, question) the template side of ``ask`` can issue."""
    out = []
    for family, (text, params) in ASK_FAMILIES.items():
        if not params:
            out.append((f"tpl:{family}", text))
            continue
        (name, choices), = params.items()
        for v in choices:
            out.append((f"tpl:{family}:{v}", text.format(**{name: v})))
    return out


def _ask_request(rng: random.Random, item: str, canned: list[dict]) -> Request:
    kind, name = item.split(":")
    if kind == "llm":  # canned LLM response, asked for by its id
        if name in ("rejected", "error"):
            name = rng.choice([c["id"] for c in canned if c["verdict"] == name])
        return Request(f"llm:{name}", "llm", name)
    text, params = ASK_FAMILIES[name]
    if not params:
        return Request(item, "template", text)
    (pname, choices), = params.items()
    v = rng.choice(choices)
    return Request(f"{item}:{v}", "template", text.format(**{pname: v}))


def ask_stream(seed: int) -> Iterator[Request]:
    """Rounds of ASK_ROUND in balanced order. The seed draws the
    template parameters and the refused or failing canned responses."""
    rng = random.Random(seed)
    canned = load_fixtures()["responses"]
    order = balanced_order(len(ASK_ROUND))
    while True:
        for i in order:
            req = _ask_request(rng, ASK_ROUND[i], canned)
            yield replace(req, ends_round=i == order[-1])


def ops_pool(queries: dict) -> list[str]:
    """The ops-sample pool in cost order (``record.py costs``), drawn
    from the registry minus bench.EXCLUDED and every copurchase_* query,
    as bench.HEADLINE lists it."""
    ranked = json.loads((HERE / "ops_by_cost.json").read_text())
    ranked = ranked[: round(len(ranked) * OPS_POOL_SHARE)]
    return [name for name, _ in ranked if name in queries]


def ops_sample_stream(seed: int, queries: dict) -> Iterator[Request]:
    """Rounds of the middle query of each cost stratum, in balanced order.

    The sample does not depend on the seed. In a fresh JVM each query
    pays a first-use cost of its own (up to 5x its warm cost: Python
    worker start, code generation), so an 8-query sample drawn per
    seed moved the median by 30% between seeds (IQR over five seeds,
    4-core host), more than any bound a later change could be held
    to. Whatever the pool's mix, the fixed sample is one query per
    cost stratum, so the costs it measures span the registry's."""
    pool = ops_pool(queries)
    m = OPS_STRATA
    strata = [pool[len(pool) * s // m: len(pool) * (s + 1) // m] for s in range(m)]
    sample = [strata[s][len(strata[s]) // 2] for s in balanced_order(m)]
    while True:
        for i, name in enumerate(sample):
            yield Request(f"op:{name}", "op", name, ends_round=i == m - 1)

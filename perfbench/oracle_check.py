"""Untimed correctness checks run after every benchmark pass.

The frontier check compares the engine's visit log and URL-seen set with
the single-threaded replay oracle (`gepris_spark.replay`). The parse check
compares the parsed pages of a fetching workload with the page table the
workload generated. Each returns a list of mismatch descriptions; an
empty list means the pass is correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gepris_spark.replay import ReplayResult

# the page generator's status -> the parse stage's routing of that page
PARSE_STATUS = {
    "success": "success",
    "moved": "moved",
    "bad_structure": "error",
    "wrong_language": "retry",
}


def check_frontier(visit_log: DataFrame, oracle: ReplayResult) -> list[str]:
    got = [
        (r["seq"], r["url"], r["scheduled_ms"], r["batch_id"])
        for r in visit_log.select("seq", "url", "scheduled_ms", "batch_id").orderBy("seq").collect()
    ]
    want = [(v["seq"], v["url"], v["scheduled_ms"], v["batch_id"]) for v in oracle.visits]
    errors = []
    if len(got) != len(want):
        errors.append(f"visit count {len(got)} != oracle {len(want)}")
    mismatch = next(((g, w) for g, w in zip(got, want) if g != w), None)
    if mismatch:
        errors.append(f"first visit-order mismatch: engine {mismatch[0]} oracle {mismatch[1]}")
    if {g[1] for g in got} != oracle.url_seen:
        errors.append("URL-seen set differs from the oracle's")
    return errors


def _clean(text: str) -> str:
    """Caption as the parser reports it: non-printables dropped,
    whitespace runs collapsed."""
    return " ".join("".join(c for c in text if c.isprintable()).split())


def check_parse(parsed: DataFrame, pages: DataFrame, visited: DataFrame) -> list[str]:
    errors = []
    n_parsed, n_visited = parsed.count(), visited.count()
    if n_parsed != n_visited:
        errors.append(f"parsed rows {n_parsed} != visited urls {n_visited}")
    fetched_pages = pages.join(visited.select("url"), "url", "left_semi")
    want: dict[str, int] = {}
    for r in fetched_pages.groupBy("status").count().collect():
        key = PARSE_STATUS[r["status"]]
        want[key] = want.get(key, 0) + r["count"]
    got = {r["status"]: r["count"] for r in parsed.groupBy("status").count().collect()}
    if got != want:
        errors.append(f"parsed status counts {got} != page table {want}")
    success = parsed.where(F.col("status") == "success").join(
        fetched_pages.select(
            "url",
            F.regexp_extract("html", r"<figcaption>(.*?)</figcaption>", 1).alias("_caption"),
            F.regexp_extract("html", r'<img id="([^"]*)"', 1).alias("_image_id"),
        ),
        "url",
        "left",
    )
    cols = ["url", "image_id", "phash", "caption", "_caption", "_image_id"]
    for r in success.select(*cols).collect():
        if r["image_id"] is None or r["phash"] is None:
            errors.append(f"success row without image or phash: {r['url']}")
        elif r["image_id"] != r["_image_id"] or r["caption"] != _clean(r["_caption"] or ""):
            errors.append(f"image or caption differs from its page: {r['url']}")
        if len(errors) > 5:
            break
    return errors

"""Seeded inputs for the benchmark workloads.

Every page starts as ``sources.pages.gen_row(i, seed)``; the workload
then perturbs the rows on the benchmark side. Inputs are written as
parquet with pyarrow, before any timing starts, and the program only
ever sees those files. The same seed gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from scripts_spark.functions.html_extract import (
    HTML_ENTITY_STEPS,
    HTML_REGEX_STEPS,
    HTML_WS_STEPS,
)
from scripts_spark.sources.pages import SV_CONTENT_WORDS, gen_row

# curate_default: one batch of ordinary pages (the generator's own mix,
# hot domain ~20% of rows)
DEFAULT_PAGES = 1500
# curate_para and curate_dedup: base pages plus planted reposts and
# shared paragraphs
PLANTED_PAGES = 1000
REPOST_SHARE = 0.5  # of eligible base pages get an edited repost
REPOST_MIN_WORDS = 35
CHAIN_SHARE = 0.25  # of reposts are reposted again (two-hop components)
SHARED_PARA_POOL = 24
SHARED_PARA_SHARE = 0.15  # of base pages get 1-3 shared paragraphs
# stream_drops: crawl drops landed before the stream starts
STREAM_DROPS = 24
STREAM_DROP_PAGES = 200
RECRAWL_SHARE = 0.10  # of each later drop re-crawls an earlier url
LATE_SHARE = 0.02  # of each later drop is stamped 40 days in the past
LATE_BY = dt.timedelta(days=40)  # beyond the 30-day dedup watermark


def html_of(text: str) -> bytes:
    """The generator's own html wrapping of a text (see gen_row)."""
    return (
        "<html><body><p>" + text.replace("\n", "</p><p>") + "</p></body></html>"
    ).encode("utf-8")


def html_to_text_py(html: bytes) -> str:
    """Pure-Python form of the html_extract spec, for the oracle."""
    s = html.decode("utf-8")
    for pat, rep in HTML_REGEX_STEPS:
        s = re.sub(pat, rep, s)
    for lit, rep in HTML_ENTITY_STEPS:
        s = s.replace(lit, rep)
    for pat, rep in HTML_WS_STEPS:
        s = re.sub(pat, rep, s)
    return s.strip(" \n")


def write_pages(rows: list[dict], path: str) -> None:
    """One parquet file in the ``sources.pages.PAGES_SCHEMA`` shape."""
    utc = dt.timezone.utc
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            # tz-aware so Spark reads TIMESTAMP (not TIMESTAMP_NTZ); the
            # generator's naive datetimes are UTC wall times
            "warc_ts": pa.array(
                [r["warc_ts"].replace(tzinfo=utc) for r in rows],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


def base_rows(n: int, seed: int, start: int = 0) -> list[dict]:
    return [gen_row(i, seed) for i in range(start, start + n)]


def _edit_paragraphs(text: str, rnd: random.Random, every: bool) -> str:
    """Replace one word in every body paragraph (``every``) or in one
    of them; never in the nav or footer line, so the repost keeps its
    domain's boilerplate. With near-dedup on, every paragraph must
    change: paragraph dedup runs first and would strip each verbatim
    paragraph from the repost, leaving too little text to verify the
    near-dup pair."""
    lines = text.split("\n")
    body = list(range(1, len(lines) - 1))
    for li in body if every else [rnd.choice(body)]:
        words = lines[li].split(" ")
        words[rnd.randrange(len(words))] = rnd.choice(SV_CONTENT_WORDS)
        lines[li] = " ".join(words)
    return "\n".join(lines)


def _repost(row: dict, rnd: random.Random, tag: str, every: bool) -> dict:
    text = _edit_paragraphs(row["text"], rnd, every)
    return {
        "url": row["url"].rsplit("/", 1)[0] + f"/repost-{tag}",
        "warc_ts": row["warc_ts"] + dt.timedelta(hours=rnd.randint(1, 72)),
        "html": html_of(text),
        "text": text,
        "lang": row["lang"],
    }


def _repostable(text: str) -> bool:
    """Every body paragraph long enough (≥ REPOST_MIN_WORDS) that one
    edited word keeps the 3-shingle Jaccard above the 4/5 threshold."""
    body = text.split("\n")[1:-1]
    return bool(body) and all(len(p.split()) >= REPOST_MIN_WORDS for p in body)


def dedup_rows(n: int, seed: int, near: bool) -> tuple[list[dict], dict]:
    """Base pages plus planted edited reposts (new url on the same
    domain; one word changed in every paragraph when ``near``, so the
    pair is a near-duplicate, else in one paragraph, so the repost is
    mostly repeated paragraphs; a share reposted again, so some
    near-dup components span two hops) and shared paragraphs drawn
    from a small pool (so paragraph dedup and ``para_dup_frac`` have
    work)."""
    rnd = random.Random(f"dedup-{seed}")
    rows = base_rows(n, seed)
    eligible = [r for r in rows if _repostable(r["text"])]
    originals = rnd.sample(eligible, int(len(eligible) * REPOST_SHARE))
    reposts = []
    for k, r in enumerate(originals):
        rp = _repost(r, rnd, f"{seed}-{k}", near)
        reposts.append(rp)
        if rnd.random() < CHAIN_SHARE:
            reposts.append(_repost(rp, rnd, f"{seed}-{k}-2", near))
    pool = [
        " ".join(rnd.choice(SV_CONTENT_WORDS) for _ in range(rnd.randint(10, 18)))
        .capitalize() + "."
        for _ in range(SHARED_PARA_POOL)
    ]
    reposted = {id(r) for r in originals}
    n_shared = 0
    for r in rows:
        lines = r["text"].split("\n")
        if id(r) not in reposted and len(lines) >= 3 \
                and rnd.random() < SHARED_PARA_SHARE:
            lines[1:1] = rnd.sample(pool, rnd.randint(1, 3))
            r["text"] = "\n".join(lines)
            r["html"] = html_of(r["text"])
            n_shared += 1
    meta = {"base_pages": n, "shared_para_pages": n_shared,
            "reposts": len(reposts)}
    return rows + reposts, meta


def stream_drops(seed: int) -> tuple[list[list[dict]], dict]:
    """Crawl drops in crawl order: drop k is stamped k hours after the
    first, a share of each later drop re-crawls an url from an earlier
    drop (same url, later timestamp, text unchanged), and a stated
    share arrives late — stamped ``LATE_BY`` before its drop, which is
    behind the 30-day url-dedup watermark."""
    rnd = random.Random(f"stream-{seed}")
    t0 = dt.datetime(2024, 1, 1)
    drops: list[list[dict]] = []
    seen: list[dict] = []
    n_recrawl = n_late = 0
    for k in range(STREAM_DROPS):
        ts = t0 + dt.timedelta(hours=k)
        fresh = base_rows(STREAM_DROP_PAGES, seed, start=k * STREAM_DROP_PAGES)
        drop = []
        for j, r in enumerate(fresh):
            r["warc_ts"] = ts + dt.timedelta(seconds=j)
            if k > 0 and rnd.random() < RECRAWL_SHARE:
                r = dict(rnd.choice(seen), warc_ts=r["warc_ts"])
                n_recrawl += 1
            elif k > 0 and rnd.random() < LATE_SHARE:
                r["warc_ts"] = r["warc_ts"] - LATE_BY
                n_late += 1
            else:
                seen.append(r)
            drop.append(r)
        drops.append(drop)
    meta = {"drops": STREAM_DROPS, "pages_per_drop": STREAM_DROP_PAGES,
            "recrawled": n_recrawl, "late": n_late}
    return drops, meta


def write_drops(drops: list[list[dict]], in_dir: str) -> None:
    """One parquet file per drop; mtimes ascend in crawl order, which
    is the order the file source admits them."""
    os.makedirs(in_dir, exist_ok=True)
    for k, drop in enumerate(drops):
        p = os.path.join(in_dir, f"drop-{k:05d}.parquet")
        write_pages(drop, p)
        os.utime(p, (1_000_000_000 + k, 1_000_000_000 + k))

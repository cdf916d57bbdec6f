"""The benchmark's workloads: seeded input generators and closed-loop
drivers over the engine's public entry points.

Each workload hands out one op per tick. ``next_op()`` builds
the op's inputs (fetcher pages and detail frames, or landing files)
before it returns, so input generation is never timed; the returned
``Op.run`` is the timed call and ``Op.check`` validates its result.
``final_check`` validates the persistent tables once the loop is done.
"""

from __future__ import annotations

import bisect
import itertools
import json
import math
import os
import random
import sys
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Any, Callable

from pyspark.sql import functions as F

import etl_instagram_spark.enrich.labels as labels_mod
import etl_instagram_spark.enrich.topics as topics_mod
import etl_instagram_spark.operators.dedup as dedup_mod
import etl_instagram_spark.pipelines.orchestrator as orchestrator
import etl_instagram_spark.streaming.incremental as incremental
from etl_instagram_spark.config import EngineConfig
from etl_instagram_spark.operators.merge import MergeTable
from etl_instagram_spark.sources.schemas import RAW_POST_DETAIL


@dataclass
class Op:
    run: Callable[[], Any]
    check: Callable[[Any], list[str]]
    items: int


def _atomic_write_lines(path: str, lines: list[str]) -> None:
    """Land a file the way an uploader would: write aside, then rename
    into the watched directory, so the file source never sees a partial
    file."""
    land_dir, name = os.path.split(path)
    tmp = os.path.join(os.path.dirname(land_dir), f".{os.path.basename(land_dir)}-{name}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# ingest_ticks: consecutive hashtag_tick calls against persistent tables
# ---------------------------------------------------------------------------

CAPTION_WORDS = (
    "kimchi ramen taco arepa ceviche paella sushi pho curry dumpling "
    "mountain river beach desert forest canyon lagoon volcano glacier "
    "sunset sunrise street market festival concert gallery museum "
    "coffee bakery brunch vegan spicy sweet crispy fresh homemade "
    "travel weekend family friends summer winter autumn spring city"
).split()


# Instagram media ids are time-ordered: 41 bits of milliseconds since a
# custom epoch, then 13 bits of logical shard and 10 bits of per-shard
# sequence ("Sharding & IDs at Instagram", Instagram Engineering blog,
# 2012). Page i holds posts from minute i after ID_BASE_MS, so a tick's
# new pages carry the newest ids and its re-scraped pages the ids just
# below them. Ids are zero-padded to 19 digits (the width of a 64-bit id
# of this era), so string order is time order.
ID_EPOCH = datetime(2011, 1, 1, tzinfo=timezone.utc)
ID_BASE_MS = int((datetime(2026, 1, 1, tzinfo=timezone.utc) - ID_EPOCH).total_seconds() * 1000)
PAGE_MS = 60_000


def media_id(ms: int, shard: int, seq: int) -> str:
    return f"{(ms << 23) | (shard << 10) | seq:019d}"


class IngestTicks:
    """Each tick fetches ``pages`` tag pages of ``posts_per_page`` posts:
    the second half of the previous tick's pages again (re-scraped, so
    their posts are already ingested) plus as many new pages. Post ids
    grow with the page (see ``media_id``), so a tick's upserts overlap
    only the newest files of ``posts``. Authors are drawn from a pool of
    ``authors``."""

    item = "posts"
    posts_per_page = 3
    authors = 400

    def __init__(self, spark, work_dir: str, seed: int, pages: int):
        self.spark = spark
        self.seed = seed
        self.pages = pages
        self.author_pool = [f"{seed}-{a:05d}" for a in range(self.authors)]
        self.tables = {
            name: MergeTable(spark, os.path.join(work_dir, name), key)
            for name, key in (("posts", "id"), ("users", "id"), ("locations", "id"), ("dead", "url"))
        }
        self.tick = 0
        self.probe_hits = self.probe_files = 0
        self.seen_posts: set[str] = set()
        self.seen_authors: set[str] = set()
        self.batch_ts = datetime(2026, 1, 1, tzinfo=timezone.utc)

    def _page(self, i: int) -> list[dict]:
        rng = random.Random(self.seed * 1_000_003 + i)
        posts = []
        for _ in range(self.posts_per_page):
            ms = ID_BASE_MS + i * PAGE_MS + rng.randrange(PAGE_MS)
            pid = media_id(ms, rng.getrandbits(13), rng.getrandbits(10))
            posts.append({
                "id": pid,
                "shortcode": f"S{pid}",
                "author": rng.choice(self.author_pool),
                "caption": " ".join(rng.choice(CAPTION_WORDS) for _ in range(rng.randint(6, 14))),
                "likes": rng.randrange(5000),
                "comments": rng.randrange(300),
            })
        return posts

    @staticmethod
    def _html(posts: list[dict]) -> str:
        nodes = [{
            "node": {
                "id": p["id"],
                "shortcode": p["shortcode"],
                "thumbnail_src": f"https://cdn.example/{p['id']}.jpg",
                "accessibility_caption": "Photo",
                "__typename": "GraphImage",
                "edge_media_preview_like": {"count": p["likes"]},
                "edge_media_to_comment": {"count": p["comments"]},
                "edge_media_to_caption": {"edges": [{"node": {"text": p["caption"]}}]},
            }
        } for p in posts]
        shared = {"entry_data": {"TagPage": [{"graphql": {"hashtag": {
            "edge_hashtag_to_media": {"edges": nodes}}}}]}}
        return ("<html><head><script>window._sharedData = " + json.dumps(shared)
                + ";</script></head><body>tag page</body></html>")

    def next_op(self) -> Op:
        first = self.tick * (self.pages // 2)
        page_ids = range(first, first + self.pages)
        hashtags = tuple(f"tag{i:07d}" for i in page_ids)
        page_posts = [self._page(i) for i in page_ids]
        html = {f"https://www.instagram.com/explore/tags/{h}/": self._html(pp)
                for h, pp in zip(hashtags, page_posts)}
        posts = {p["id"]: p for pp in page_posts for p in pp}
        details = self.spark.createDataFrame(
            [(p["shortcode"], ((
                (p["author"], f"user{p['author']}", f"User {p['author']}",
                 "https://cdn.example/u.jpg", (100,), (50,)),
                None,
            ),)) for p in posts.values()],
            RAW_POST_DETAIL,
        )
        expect_new = len(set(posts) - self.seen_posts)
        hits, files = overlapping_files(self.tables["posts"], sorted(posts))
        self.probe_hits += hits
        self.probe_files += files
        self.seen_posts |= set(posts)
        self.seen_authors |= {p["author"] for p in posts.values()}
        cfg = EngineConfig(env_name="production", hashtags=hashtags, dev_limit=None,
                           fetch_interval_s=0.0)
        ts = self.batch_ts + timedelta(hours=self.tick)
        self.tick += 1
        t = self.tables

        def run():
            return orchestrator.hashtag_tick(
                self.spark, cfg, details, t["posts"], t["users"], t["locations"], t["dead"],
                fetcher=html.get, batch_ts=ts, enrich=True,
            )

        def check(stats) -> list[str]:
            if stats is None or stats.get("new_posts") != expect_new:
                return [f"new_posts {stats and stats.get('new_posts')} != {expect_new}"]
            return []

        return Op(run, check, len(posts))

    def final_check(self) -> list[str]:
        posts = self.tables["posts"].read()
        errors = []
        n_posts = posts.count()
        if n_posts != len(self.seen_posts):
            errors.append(f"posts rows {n_posts} != {len(self.seen_posts)} distinct posts")
        n_users = self.tables["users"].read().count()
        if n_users != len(self.seen_authors):
            errors.append(f"users rows {n_users} != {len(self.seen_authors)} distinct authors")
        n_null = posts.filter(F.col("topics").isNull()).count()
        if n_null:
            errors.append(f"{n_null} posts without topics")
        return errors

    def patch(self, tracer) -> None:
        tracer.patch(orchestrator, "hashtag_tick", "pipelines.hashtag_tick")
        tracer.patch(orchestrator, "run_hashtag_batch", "pipelines.run_hashtag_batch")
        tracer.patch(orchestrator, "fetch_pages", "sources.fetch_pages")
        tracer.patch(orchestrator, "extract_embedded_json", "sources.extract_embedded_json")
        tracer.patch(topics_mod, "attach_topics", "enrich.attach_topics")
        tracer.patch(labels_mod, "attach_labels", "enrich.attach_labels")
        _patch_merge(tracer)

    def diagnostics(self) -> dict[str, float]:
        # posts only: every tick touches most of the 400 authors, so
        # users is rewritten whole by design
        return {"merge.files_rewritten_share": files_rewritten_share([self.tables["posts"]]),
                "merge.probe_files_share": self.probe_hits / max(self.probe_files, 1),
                "stream.drop_share": 0.0}


# ---------------------------------------------------------------------------
# stream_ticks: near-dedup + heavy-hitters curation loop with compaction
# ---------------------------------------------------------------------------

HOT_TERMS = tuple(f"hot{i}" for i in range(10))
DOC_TOKENS = 30
SHINGLE_WORDS = 3
# the near-dedup configuration the workload runs (the engine's defaults,
# passed explicitly so the recall check below uses the same numbers)
K, BANDS, THRESHOLD = 16, 4, 0.5
# shingle Jaccard of a planted interior edit: replacing one interior word
# of a 30-word original swaps 3 of its 28 shingles (a word added at one
# end keeps all 28 and adds one: 28/29)
MID_EDIT_J = 25 / 31
# lsh_miss_rate assumes ideal min-wise hashing; the engine's affine hash
# family is not exactly that, and over 14 runs the interior edits kept
# were 0.95-1.45x (mean 1.16x) the ideal rate, so the check allows this
# multiple of it
MISS_SLACK = 1.25


def lsh_miss_rate(j: float, k: int = K, bands: int = BANDS, threshold: float = THRESHOLD) -> float:
    """Chance that banded MinHash keeps a near-duplicate of shingle
    Jaccard ``j``: no band of ``k // bands`` rows agrees in full, or the
    signature agreement ``matches / k`` falls below ``threshold``. Each
    component agrees independently with probability ``j``."""
    rows = k // bands
    per_band = [math.comb(rows, m) * j**m * (1 - j) ** (rows - m) for m in range(rows + 1)]
    return sum(
        math.prod(per_band[m] for m in counts)
        for counts in itertools.product(range(rows + 1), repeat=bands)
        if rows not in counts or sum(counts) < threshold * k
    )


class StreamTicks:
    """Each tick lands ``docs`` documents and their term stream, then
    drains both streams, reads the heavy hitters, and compacts the
    summary store on every ``compact_every``-th tick. ``dup_share`` of
    each tick's documents are near-duplicates of an earlier original:
    ``end_share`` of them add one word at either end, the rest replace
    one interior word (shingle Jaccard 28/29 and ``MID_EDIT_J``). Distinct
    originals share no token. Each document carries ``terms_per_doc``
    terms; ``HOT_TERMS`` take 2% of the term stream each (support is
    1%), the rest come from a 20k-term tail."""

    item = "docs"
    compact_every = 2
    capacity = 200
    # a run lands about 600 end-word near-duplicates: the engine keeps
    # about 0.2% of them, and at 300 a run would pass its 1% check by
    # chance only 99.8% of the time (one in 30 runs kept 4 of 303)
    dup_share = 0.6
    end_share = 2 / 3
    terms_per_doc = 5

    def __init__(self, spark, work_dir: str, seed: int, docs: int):
        self.spark = spark
        self.rng = random.Random(seed)
        self.docs = docs
        self.dirs = {k: os.path.join(work_dir, k) for k in (
            "docs", "terms", "ckpt_dedup", "ckpt_hh", "sig_store", "clean", "hh_store")}
        os.makedirs(self.dirs["docs"])
        os.makedirs(self.dirs["terms"])
        self.sig_store = MergeTable(spark, self.dirs["sig_store"], "doc_id")
        self.clean = MergeTable(spark, self.dirs["clean"], "doc_id")
        self.hh_store = MergeTable(spark, self.dirs["hh_store"], ["epoch_id", "term_key"],
                                   order_by="epoch_id")
        self.tick = 0
        self.next_id = 0
        self.originals: list[int] = []
        self.end_dups: list[int] = []
        self.mid_dups: list[int] = []
        self.drop_share = 0.0

    def _text(self, doc_id: int) -> list[str]:
        return [f"w{doc_id}x{j}" for j in range(DOC_TOKENS)]

    def _land(self) -> None:
        rng = self.rng
        history = len(self.originals)
        docs, terms = [], []
        for _ in range(self.docs):
            did = self.next_id
            self.next_id += 1
            if history and rng.random() < self.dup_share:
                words = self._text(self.originals[rng.randrange(history)])
                extra = f"extra{did}"
                if rng.random() < self.end_share:
                    words = words + [extra] if rng.random() < 0.5 else [extra] + words
                    self.end_dups.append(did)
                else:
                    # every shingle that covers this word is interior
                    words[rng.randrange(SHINGLE_WORDS - 1, DOC_TOKENS - SHINGLE_WORDS + 1)] = extra
                    self.mid_dups.append(did)
            else:
                words = self._text(did)
                self.originals.append(did)
            docs.append(json.dumps({"doc_id": did, "text": " ".join(words)}))
            for _ in range(self.terms_per_doc):
                if rng.random() < 0.2:
                    term = HOT_TERMS[rng.randrange(len(HOT_TERMS))]
                else:
                    term = f"tail{rng.randrange(20_000)}"
                terms.append(json.dumps({"term": term}))
        name = f"tick-{self.tick:05d}.json"
        _atomic_write_lines(os.path.join(self.dirs["docs"], name), docs)
        _atomic_write_lines(os.path.join(self.dirs["terms"], name), terms)

    def next_op(self) -> Op:
        self._land()
        epoch = self.tick  # one AvailableNow micro-batch per drain
        compact = self.tick > 0 and self.tick % self.compact_every == 0
        self.tick += 1
        d = self.dirs

        def run():
            incremental.stream_near_dedup(
                self.spark, d["docs"], "doc_id LONG, text STRING", self.sig_store, self.clean,
                d["ckpt_dedup"], threshold=THRESHOLD, k=K, bands=BANDS)
            incremental.stream_heavy_hitters(
                self.spark, d["terms"], "term STRING", self.hh_store, d["ckpt_hh"])
            hh = [r["term"] for r in incremental.heavy_hitters_read(
                self.hh_store, self.capacity, 1, 100).collect()]
            if compact:
                incremental.compact_hh_summaries(self.hh_store, epoch - 1, self.capacity)
            return hh

        def check(hh) -> list[str]:
            missing = set(HOT_TERMS) - set(hh)
            return [f"hot terms not reported: {sorted(missing)}"] if missing else []

        return Op(run, check, self.docs)

    def final_check(self) -> list[str]:
        ids = {r["doc_id"] for r in self.clean.read().select("doc_id").collect()}
        self.drop_share = 1 - len(ids) / self.next_id
        errors = []
        lost = len(set(self.originals) - ids)
        if lost:
            errors.append(f"{lost} original documents dropped")
        kept = len(set(self.end_dups) & ids)
        if kept > 0.01 * len(self.end_dups):
            errors.append(f"{kept} of {len(self.end_dups)} end-word near-duplicates kept")
        # interior edits: no more kept than the banding's miss rate at
        # their similarity allows, with four binomial standard deviations
        n, ideal = len(self.mid_dups), lsh_miss_rate(MID_EDIT_J)
        p = MISS_SLACK * ideal
        kept = len(set(self.mid_dups) & ids)
        allowed = n * p + 4 * math.sqrt(n * p * (1 - p))
        if kept > allowed:
            errors.append(f"{kept} of {n} interior-edit near-duplicates kept "
                          f"(at most {allowed:.0f} allowed)")
        print(f"near-duplicates kept: end-word {len(set(self.end_dups) & ids)}/{len(self.end_dups)}, "
              f"interior-edit {kept}/{n} (ideal {n * ideal:.1f}, allowed {allowed:.0f})",
              file=sys.stderr)
        return errors

    def patch(self, tracer) -> None:
        for fn in ("stream_near_dedup", "stream_heavy_hitters", "heavy_hitters_read",
                   "compact_hh_summaries"):
            tracer.patch(incremental, fn, f"streaming.{fn}")
        tracer.patch(dedup_mod, "incremental_near_dedup", "dedup.incremental_near_dedup")
        _patch_merge(tracer)

    def diagnostics(self) -> dict[str, float]:
        return {"merge.files_rewritten_share":
                files_rewritten_share([self.sig_store, self.clean, self.hh_store]),
                "merge.probe_files_share": 0.0,
                "stream.drop_share": self.drop_share}


MERGE_METHODS = ("upsert", "append", "overwrite", "read_overlapping")


def _patch_merge(tracer) -> None:
    for m in MERGE_METHODS:
        tracer.patch(MergeTable, m, f"merge.{m}")


def _manifest(table: MergeTable, snap: str) -> list[dict]:
    with open(os.path.join(table.path, "manifests", snap + ".json"), encoding="utf-8") as fh:
        return json.load(fh)["files"]


def overlapping_files(table: MergeTable, keys: list) -> tuple[int, int]:
    """(files of the current snapshot whose [min, max] key range holds
    one of the sorted ``keys``, all files): what the existence probe
    ``read_overlapping`` has to read."""
    snap = table.current_snapshot()
    files = []
    if snap is not None:
        with open(snap, encoding="utf-8") as fh:
            files = json.load(fh)["files"]
    hits = 0
    for f in files:
        lo, hi = f["min_key"]["v"], f["max_key"]["v"]
        i = bisect.bisect_left(keys, lo)
        hits += i < len(keys) and keys[i] <= hi
    return hits, len(files)


def files_rewritten_share(tables: list[MergeTable]) -> float:
    """Over every commit of ``tables``: the share of the previous
    snapshot's data files that the commit did not carry forward."""
    dropped = total = 0
    for t in tables:
        prev: set[str] | None = None
        for snap in t.list_snapshots():
            files = {f["path"] for f in _manifest(t, snap)}
            if prev is not None:
                dropped += len(prev - files)
                total += len(prev)
            prev = files
    return dropped / total if total else 0.0


WORKLOADS = {"ingest_ticks": IngestTicks, "stream_ticks": StreamTicks}

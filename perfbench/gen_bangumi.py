"""Seeded Bangumi collection pages for the ``etl_sync`` workload.

The pages follow FIXTURES.md F1: a ragged ``infobox`` (plain string,
``{"v": ...}``, a list of dicts, a list of strings, null, a blank key,
a value that strips to empty), ``name_cn`` as ``""`` and as null,
fewer than five tags with non-dict entries mixed in, CJK and emoji
text, one empty cell, and a partial last page in every other cell.

A *snapshot* is the set of subject ids the API returns in one sync
cycle. ``Collection.snapshot(r)`` is the snapshot of round ``r``: it
holds ``SIZE`` ids, drops the ``CHURN`` oldest ids of round ``r - 1``,
adds ``CHURN`` new ids and rewrites a few fields of the ids it keeps,
so the diff between two consecutive rounds is known in advance.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

SUBJECT_TYPES = (1, 2, 3)
COLLECTION_TYPES = (1, 2, 3, 4)
CELLS = [f"{s}_{c}" for s in SUBJECT_TYPES for c in COLLECTION_TYPES]
PAGE_LIMIT = 100
SIZE = 1200  # live items per snapshot
CHURN = 60  # items retired and admitted per cycle

_WORDS_CN = ["科幻", "日常", "治愈", "热血", "悬疑", "恋爱", "战斗", "校园", "奇幻", "音乐"]
_WORDS_JA = ["アニメ", "漫画", "物語", "冒険", "魔法", "青春"]
_EMOJI = ["🎬", "✨", "🌸", "🔥", "🎵", "📚"]
_STUDIOS = ["京都动画", "MAPPA", "ufotable", "Production I.G", "シャフト"]


@dataclass(frozen=True)
class Delta:
    """Known diff between two consecutive snapshots."""

    inserts: int
    updates: int
    deletes: int


class Collection:
    """A seeded pool of collection items and its per-round snapshots.

    ``SIZE`` ids are live in every snapshot; each round retires
    ``CHURN`` of them and admits ``CHURN`` new ones. Items are built
    deterministically from ``(seed, subject_id, round)``.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(seed)
        # one empty cell (it is probed and reported, never paged)
        self.empty_cell = rng.choice(CELLS)
        live = [c for c in CELLS if c != self.empty_cell]
        # uneven cell weights so some cells span several pages and every
        # cell ends on a partial page
        self._cells = live
        self._weights = [rng.randint(1, 4) for _ in live]
        self._base_id = 1000 + rng.randint(0, 10_000) * 10

    # -- snapshots ---------------------------------------------------
    def ids(self, rnd: int) -> list[int]:
        start = self._base_id + rnd * CHURN
        return list(range(start, start + SIZE))

    def delta(self) -> Delta:
        return Delta(inserts=CHURN, updates=SIZE - CHURN, deletes=CHURN)

    def cell_of(self, sid: int) -> str:
        rng = random.Random(f"{self.seed}:cell:{sid}")
        return rng.choices(self._cells, weights=self._weights)[0]

    def snapshot(self, rnd: int) -> dict[str, list[dict]]:
        """Items of round ``rnd`` grouped by cell, in id order."""
        cells: dict[str, list[dict]] = {c: [] for c in CELLS}
        for sid in self.ids(rnd):
            cells[self.cell_of(sid)].append(self.item(sid, rnd))
        return cells

    def write_pages(self, rnd: int, out_dir: str) -> dict[str, int]:
        """Write round ``rnd`` as ``{cell}_page{N}.json`` replay files.
        Returns the item count per cell (the empty cell included)."""
        os.makedirs(out_dir, exist_ok=True)
        counts = {}
        for cell, items in self.snapshot(rnd).items():
            counts[cell] = len(items)
            pages = [items[i : i + PAGE_LIMIT] for i in range(0, len(items), PAGE_LIMIT)]
            for n, page in enumerate(pages or [[]]):
                payload = {
                    "total": len(items),
                    "limit": PAGE_LIMIT,
                    "offset": n * PAGE_LIMIT,
                    "data": page,
                }
                path = os.path.join(out_dir, f"{cell}_page{n}.json")
                with open(path, "w", encoding="utf-8") as f:
                    json.dump(payload, f, ensure_ascii=False, separators=(",", ":"))
        return counts

    # -- items -------------------------------------------------------
    def item(self, sid: int, rnd: int) -> dict:
        """One API collection item. Stable fields come from the id;
        ``ep_status``, ``score`` and ``updated_at`` change with the
        round, which is what an update rewrites."""
        rng = random.Random(f"{self.seed}:item:{sid}")
        live = random.Random(f"{self.seed}:item:{sid}:{rnd}")
        n = rng.randrange(7)
        name = f"{rng.choice(_WORDS_JA)}{rng.choice(_WORDS_CN)} {sid}"
        if n == 0:
            name_cn = ""
        elif n == 1:
            name_cn = None
        else:
            name_cn = f"{rng.choice(_WORDS_CN)}{rng.choice(_WORDS_CN)}{rng.choice(_EMOJI)}"
        day = 1 + live.randrange(28)
        return {
            "created_at": f"2023-{1 + sid % 12:02d}-{1 + sid % 28:02d}T12:30:00+08:00",
            "updated_at": f"2024-{1 + rnd % 12:02d}-{day:02d}T08:00:00+08:00",
            "ep_status": live.randrange(26),
            "vol_status": 0,
            "subject": {
                "id": sid,
                "name": name,
                "name_cn": name_cn,
                "score": round(live.uniform(3.0, 9.8), 1),
                "rank": rng.randrange(1, 20_000),
                "collection_total": rng.randrange(10, 50_000),
                "eps": rng.choice([0, 12, 13, 24, 26]),
                "volumes": rng.choice([0, 1, 3]),
                "date": rng.choice(["2013-04", "2019-10-05", "2021", ""]),
                "type": rng.choice(SUBJECT_TYPES),
                "short_summary": self._summary(rng, sid),
                "tags": self._tags(rng),
                "infobox": self._infobox(rng),
            },
        }

    @staticmethod
    def _summary(rng: random.Random, sid: int) -> str:
        words = [rng.choice(_WORDS_CN + _WORDS_JA + _EMOJI) for _ in range(rng.randrange(5, 60))]
        text = " ".join(words) + f" #{sid}"
        # every 9th summary runs past the 500-character truncation
        return text * 12 if sid % 9 == 0 else text

    @staticmethod
    def _tags(rng: random.Random) -> list:
        k = rng.randrange(0, 8)
        counts = sorted((rng.randrange(1, 500) for _ in range(k)), reverse=True)
        tags: list = [{"name": rng.choice(_WORDS_CN), "count": c} for c in counts]
        if k and rng.random() < 0.2:
            tags.insert(rng.randrange(len(tags)), rng.choice(["坏标签", 7, None]))
        return tags

    @staticmethod
    def _infobox(rng: random.Random) -> list:
        box = [
            {"key": "中文名", "value": rng.choice(_WORDS_CN) + rng.choice(_EMOJI)},
            {"key": "导演", "value": {"v": f"导演{rng.randrange(50)}"}},
            {"key": "动画制作", "value": [{"v": rng.choice(_STUDIOS)}, {"v": rng.choice(_STUDIOS)}]},
            {"key": "国家/地区", "value": ["日本", rng.choice(["中国", "美国", ""])]},
            {"key": "出版社", "value": None},
            {"key": "  ", "value": "blank key"},
            {"key": "作者", "value": "   "},
        ]
        rng.shuffle(box)
        return box[: rng.randrange(3, len(box) + 1)]

"""Seeded synthetic YouTube channel: the benchmark's payload generator.

One channel of ``videos`` videos reported over ``days`` analytics days, with
10 countries, 4 device types and 6 traffic sources. Payloads follow the
reference's per-video request loop: every analytics report is fetched once
per video, so one snapshot yields ``4 * videos + 1`` analytics payloads plus
the Data API payloads (channel, playlist, videos in batches of 50 ids).

The edge cases of ``sources/fixtures.py`` recur at fixed rates, on videos
chosen by the seed:

- ``LOWERCASE_EVERY``: the video's dimension values arrive lowercased;
- ``EMPTY_EVERY``: the traffic report adds a row with an empty source id;
- ``MISSING_DAY_EVERY``: the traffic report has no ``day`` header, so its
  rows fall back to the snapshot date;
- ``MISSING_METRICS_EVERY``: the country report has no metric headers;
- ``DESCRIPTION_FLIP_EVERY``: the description flips between NULL and ''
  from one snapshot to the next (no new SCD2 version);
- ``TITLE_CHANGE_EVERY``: the title changes every ``TITLE_PERIOD`` snapshots
  (a new SCD2 version each time).

``MYSTERY_SOURCE`` is one of the six traffic sources on every video: an id
outside the known list, which only the warn-level monitor flags. ``XX`` is a
country code missing from the ISO reference.

The same seed gives the same payloads, byte for byte. Expected gold row counts
follow from the parameters alone (``expected_gold_counts``).
"""

from __future__ import annotations

import datetime as dt
import random
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

CHANNEL_ID = "UC_bench_channel"
COUNTRIES = ["US", "DE", "GB", "IN", "BR", "JP", "FR", "CA", "MX", "XX"]
DEVICES = ["DESKTOP", "MOBILE", "TABLET", "TV"]
TRAFFIC_SOURCES = ["YT_SEARCH", "EXT_URL", "SHORTS", "SUBSCRIBER", "PLAYLIST", "MYSTERY_SOURCE"]
VIDEOS_PER_REQUEST = 50  # Data API videos.list id limit

LOWERCASE_EVERY = 7
EMPTY_EVERY = 5
MISSING_DAY_EVERY = 10
MISSING_METRICS_EVERY = 9
DESCRIPTION_FLIP_EVERY = 6
TITLE_CHANGE_EVERY = 8
TITLE_PERIOD = 3
LOOKBACK_DAYS = 7  # the reference's rolling re-ingest window

GOLD_TABLES = [
    "gold_channel_daily_summary",
    "gold_video_daily_summary",
    "gold_video_country_daily_summary",
    "gold_video_device_daily_summary",
    "gold_video_traffic_source_daily_summary",
]


def _every(n_videos: int, every: int, rng: random.Random) -> frozenset[int]:
    """Exactly ceil(n_videos / every) video indexes, placed by the seed."""
    return frozenset(rng.sample(range(n_videos), -(-n_videos // every)))


@dataclass(frozen=True)
class Snapshot:
    """One ingest: the snapshot date and the analytics days it reports."""

    date: dt.date
    report_days: tuple[dt.date, ...]


class ChannelGenerator:
    def __init__(self, seed: int, videos: int, days: int, start: dt.date = dt.date(2025, 3, 1)):
        if videos < 1 or days < LOOKBACK_DAYS:
            raise ValueError(f"need videos >= 1 and days >= {LOOKBACK_DAYS}")
        self.seed, self.videos, self.days, self.start = seed, videos, days, start
        rng = random.Random(seed)
        self.video_ids = [f"vid_{i:05d}" for i in range(videos)]
        self.lowercase = _every(videos, LOWERCASE_EVERY, rng)
        self.empty_source = _every(videos, EMPTY_EVERY, rng)
        self.missing_day = _every(videos, MISSING_DAY_EVERY, rng)
        self.missing_metrics = _every(videos, MISSING_METRICS_EVERY, rng)
        self.description_flip = _every(videos, DESCRIPTION_FLIP_EVERY, rng)
        self.title_change = _every(videos, TITLE_CHANGE_EVERY, rng)
        # Per-video popularity, so metric values differ between videos.
        self.scale = [rng.randint(20, 5000) for _ in range(videos)]

    # -- snapshots ---------------------------------------------------------

    def backfill(self) -> Snapshot:
        """The initial load: every history day, taken the day after the last."""
        days = tuple(self.start + dt.timedelta(days=i) for i in range(self.days))
        return Snapshot(days[-1] + dt.timedelta(days=1), days)

    def daily(self, k: int) -> Snapshot:
        """The k-th daily snapshot (k >= 1) after the backfill: one new report
        day plus the re-ingest lookback, ``LOOKBACK_DAYS`` days in all."""
        if k < 1:
            raise ValueError("daily snapshots start at k=1")
        date = self.backfill().date + dt.timedelta(days=k)
        days = tuple(date - dt.timedelta(days=LOOKBACK_DAYS - i) for i in range(LOOKBACK_DAYS))
        return Snapshot(date, days)

    def snapshot_index(self, snap: Snapshot) -> int:
        return (snap.date - self.backfill().date).days

    # -- payloads ----------------------------------------------------------

    def payloads(self, snap: Snapshot) -> Iterator[tuple[str, dict]]:
        """(bronze table, payload) pairs of one snapshot, in request order."""
        k = self.snapshot_index(snap)
        rng = random.Random(f"{self.seed}:{snap.date.isoformat()}")
        yield "channels_raw", self._channel(k)
        for lo in range(0, self.videos, VIDEOS_PER_REQUEST):
            yield "videos_raw", self._videos(range(lo, min(lo + VIDEOS_PER_REQUEST, self.videos)), k)
        yield "playlist_items_raw", self._playlist()
        yield "analytics_channel_daily_raw", self._channel_daily(snap, rng)
        for i in range(self.videos):
            yield "analytics_video_daily_raw", self._video_daily(i, snap, rng)
            yield "analytics_video_traffic_source_daily_raw", self._traffic(i, snap, rng)
            yield "analytics_video_country_daily_raw", self._country(i, snap, rng)
            yield "analytics_video_device_daily_raw", self._device(i, snap, rng)

    def source(self, snap: Snapshot) -> "GeneratedSource":
        return GeneratedSource(list(self.payloads(snap)))

    def _channel(self, k: int) -> dict:
        return {
            "items": [
                {
                    "id": CHANNEL_ID,
                    "snippet": {
                        "title": "Bench Channel",
                        "description": "A synthetic channel",
                        "customUrl": "@benchchannel",
                        "country": "US",
                        "publishedAt": "2019-04-01T12:00:00Z",
                    },
                    "statistics": {
                        "viewCount": str(1_000_000 + 997 * k),
                        "subscriberCount": str(20_000 + 13 * k),
                        "hiddenSubscriberCount": False,
                        "videoCount": str(self.videos),
                    },
                }
            ]
        }

    def title(self, i: int, k: int) -> str:
        rev = (k + i) // TITLE_PERIOD if i in self.title_change else 0
        return f"{self.video_ids[i]} title rev {rev}"

    def _videos(self, indexes: Iterable[int], k: int) -> dict:
        items = []
        for i in indexes:
            description: str | None = f"about {self.video_ids[i]}"
            if i in self.description_flip:
                description = None if k % 2 == 0 else ""
            items.append(
                {
                    "id": self.video_ids[i],
                    "snippet": {
                        "channelId": CHANNEL_ID,
                        "title": self.title(i, k),
                        "description": description,
                        "publishedAt": (self.start - dt.timedelta(days=i % 90)).isoformat() + "T09:00:00Z",
                        "defaultLanguage": "en",
                        "defaultAudioLanguage": "en",
                    },
                    "contentDetails": {
                        "duration": f"PT{3 + i % 40}M",
                        "dimension": "2d",
                        "definition": "hd",
                        "caption": "false",
                        "licensedContent": True,
                        "projection": "rectangular",
                    },
                    "status": {
                        "uploadStatus": "processed",
                        "privacyStatus": "public",
                        "embeddable": True,
                        "publicStatsViewable": True,
                        "madeForKids": False,
                        "selfDeclaredMadeForKids": False,
                    },
                    "topicDetails": {"topicCategories": ["music", "entertainment"]},
                    "statistics": {
                        "viewCount": str(self.scale[i] * (40 + k)),
                        "likeCount": str(self.scale[i] * (2 + k)),
                        "favoriteCount": "0",
                        "commentCount": str(self.scale[i] // 10 + k),
                    },
                }
            )
        return {"items": items}

    def _playlist(self) -> dict:
        return {
            "items": [{"contentDetails": {"videoId": v}} for v in self.video_ids],
            "item_count": self.videos,
            "page_count": -(-self.videos // VIDEOS_PER_REQUEST),
            "playlist_id": "UU_bench_channel",
        }

    def _channel_daily(self, snap: Snapshot, rng: random.Random) -> dict:
        headers = ["day", "views", "likes", "comments", "estimatedMinutesWatched", "subscribersGained", "subscribersLost"]
        rng.shuffle(headers)
        rows = []
        for d in snap.report_days:
            cells = {
                "day": d.isoformat(),
                "views": str(rng.randint(5_000, 50_000)),
                "likes": str(rng.randint(100, 2_000)),
                "comments": str(rng.randint(0, 300)),
                "estimatedMinutesWatched": str(rng.randint(10_000, 90_000)),
                "subscribersGained": str(rng.randint(0, 200)),
                "subscribersLost": str(rng.randint(0, 50)),
            }
            rows.append([cells[h] for h in headers])
        return _matrix(headers, rows)

    def _video_daily(self, i: int, snap: Snapshot, rng: random.Random) -> dict:
        headers = ["video", "day", "views", "likes", "comments", "estimatedMinutesWatched", "averageViewDuration"]
        rng.shuffle(headers)
        s = self.scale[i]
        rows = []
        for d in snap.report_days:
            cells = {
                "video": self.video_ids[i],
                "day": d.isoformat(),
                "views": str(rng.randint(s, 3 * s)),
                "likes": str(rng.randint(0, s // 10 + 1)),
                "comments": str(rng.randint(0, s // 50 + 1)),
                "estimatedMinutesWatched": str(rng.randint(s, 6 * s)),
                "averageViewDuration": f"{rng.uniform(30, 600):.1f}",
            }
            rows.append([cells[h] for h in headers])
        return _matrix(headers, rows)

    def _dimension_report(
        self, i: int, snap: Snapshot, rng: random.Random, header: str, values: list[str],
        with_day: bool = True, with_metrics: bool = True,
    ) -> dict:
        headers = ["video", header]
        if with_day:
            headers.append("day")
        if with_metrics:
            headers += ["views", "estimatedMinutesWatched"]
        rng.shuffle(headers)
        if i in self.lowercase:
            values = [v.lower() for v in values]
        s = self.scale[i]
        rows = []
        for d in snap.report_days if with_day else (None,):
            for v in values:
                cells = {
                    "video": self.video_ids[i],
                    header: v,
                    "day": d.isoformat() if d else None,
                    "views": str(rng.randint(0, s)),
                    "estimatedMinutesWatched": str(rng.randint(0, 4 * s)),
                }
                rows.append([cells[h] for h in headers])
        return _matrix(headers, rows)

    def _traffic(self, i: int, snap: Snapshot, rng: random.Random) -> dict:
        values = TRAFFIC_SOURCES + ([""] if i in self.empty_source else [])
        return self._dimension_report(
            i, snap, rng, "insightTrafficSourceType", values, with_day=i not in self.missing_day
        )

    def _country(self, i: int, snap: Snapshot, rng: random.Random) -> dict:
        return self._dimension_report(
            i, snap, rng, "country", COUNTRIES, with_metrics=i not in self.missing_metrics
        )

    def _device(self, i: int, snap: Snapshot, rng: random.Random) -> dict:
        return self._dimension_report(i, snap, rng, "deviceType", DEVICES)

    # -- expectations ------------------------------------------------------

    def expected_gold_counts(self, snaps: list[Snapshot]) -> dict[str, int]:
        """Gold row counts after ingesting ``snaps``, from the parameters only.

        Report days form one contiguous range from the backfill start, so each
        per-day mart holds (its grain) x (distinct report days). Videos whose
        traffic report lacks a ``day`` header contribute their six sources on
        each snapshot date instead; they never send dated rows, so those keys
        never collide with dated ones. Empty source ids are filtered and
        lowercased values fold into their uppercase key.
        """
        n_days = len({d for s in snaps for d in s.report_days})
        n_snaps = len({s.date for s in snaps})
        dated = self.videos - len(self.missing_day)
        return {
            "gold_channel_daily_summary": n_days,
            "gold_video_daily_summary": self.videos * n_days,
            "gold_video_country_daily_summary": self.videos * n_days * len(COUNTRIES),
            "gold_video_device_daily_summary": self.videos * n_days * len(DEVICES),
            "gold_video_traffic_source_daily_summary": len(TRAFFIC_SOURCES)
            * (dated * n_days + len(self.missing_day) * n_snaps),
        }


def _matrix(headers: list[str], rows: list[list]) -> dict:
    return {
        "columnHeaders": [{"name": h, "columnType": "DIMENSION", "dataType": "STRING"} for h in headers],
        "rows": rows,
    }


class GeneratedSource:
    """A PayloadSource over pre-generated payloads: the package sees only
    these (table, payload) pairs, never the generator."""

    def __init__(self, payloads: list[tuple[str, dict]]):
        self._payloads = payloads

    def fetch(self, ctx) -> Iterator[tuple[str, dict]]:
        return iter(self._payloads)

    def envelopes(self) -> int:
        return len(self._payloads)

    def payload_bytes(self) -> int:
        import json

        return sum(len(json.dumps(p, separators=(",", ":"))) for _, p in self._payloads)

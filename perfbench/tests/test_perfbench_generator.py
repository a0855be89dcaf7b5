"""The payload generator: determinism, edge-case rates, expected counts.

The expected gold counts are checked against an independent count taken
from the payloads themselves, applying the silver layer's key rules
(uppercase dimension values, drop empty ones, fall back to the snapshot date
without a ``day`` header)."""

import json
from collections import defaultdict

import pytest

from generator import (
    COUNTRIES,
    DEVICES,
    TRAFFIC_SOURCES,
    ChannelGenerator,
)


def dump(gen, snap):
    return json.dumps(list(gen.payloads(snap)), sort_keys=True)


def test_same_seed_same_payloads():
    a, b = ChannelGenerator(7, 23, 9), ChannelGenerator(7, 23, 9)
    assert dump(a, a.backfill()) == dump(b, b.backfill())
    assert dump(a, a.daily(3)) == dump(b, b.daily(3))


def test_other_seed_other_payloads():
    a, b = ChannelGenerator(7, 23, 9), ChannelGenerator(8, 23, 9)
    assert dump(a, a.backfill()) != dump(b, b.backfill())


def test_edge_cases_at_fixed_rates():
    for seed in (1, 2, 3):
        g = ChannelGenerator(seed, 40, 14)
        assert len(g.lowercase) == 6  # ceil(40 / 7)
        assert len(g.empty_source) == 8
        assert len(g.missing_day) == 4
        assert len(g.missing_metrics) == 5
        assert len(g.description_flip) == 7
        assert len(g.title_change) == 5


def test_one_analytics_payload_per_video_per_report():
    g = ChannelGenerator(3, 60, 7)
    tables = defaultdict(int)
    for table, _ in g.payloads(g.backfill()):
        tables[table] += 1
    assert tables["analytics_video_daily_raw"] == 60
    assert tables["analytics_video_country_daily_raw"] == 60
    assert tables["videos_raw"] == 2  # 50 ids per request
    assert tables["analytics_channel_daily_raw"] == 1


def test_snapshot_edge_cases_appear_in_payloads():
    g = ChannelGenerator(5, 40, 14)
    flip = next(iter(g.description_flip))
    changer = next(iter(g.title_change))

    def video(snap, i):
        items = [it for t, p in g.payloads(snap) if t == "videos_raw" for it in p["items"]]
        return next(it for it in items if it["id"] == g.video_ids[i])

    descs = {video(g.daily(k), flip)["snippet"]["description"] for k in (1, 2)}
    assert descs == {None, ""}
    titles = {video(g.daily(k), changer)["snippet"]["title"] for k in range(1, 5)}
    assert len(titles) >= 2
    lower = next(iter(g.lowercase))
    rows = [
        p for t, p in g.payloads(g.backfill())
        if t == "analytics_video_device_daily_raw" and g.video_ids[lower] in json.dumps(p)
    ][0]
    col = [h["name"] for h in rows["columnHeaders"]].index("deviceType")
    assert {r[col] for r in rows["rows"]} == {d.lower() for d in DEVICES}


def _keys_from_payloads(gen, snaps):
    """Distinct gold grain keys implied by the payloads of ``snaps``."""
    keys = defaultdict(set)
    dims = {
        "analytics_video_traffic_source_daily_raw": ("gold_video_traffic_source_daily_summary", "insightTrafficSourceType"),
        "analytics_video_country_daily_raw": ("gold_video_country_daily_summary", "country"),
        "analytics_video_device_daily_raw": ("gold_video_device_daily_summary", "deviceType"),
    }
    for snap in snaps:
        for table, p in gen.payloads(snap):
            names = [h["name"] for h in p.get("columnHeaders", [])]
            for row in p.get("rows", []):
                cell = dict(zip(names, row))
                day = cell.get("day") or snap.date.isoformat()
                if table == "analytics_channel_daily_raw":
                    keys["gold_channel_daily_summary"].add(day)
                elif table == "analytics_video_daily_raw":
                    keys["gold_video_daily_summary"].add((cell["video"], day))
                elif table in dims:
                    mart, header = dims[table]
                    value = cell[header].upper()
                    if value:
                        keys[mart].add((cell["video"], day, value))
    return {k: len(v) for k, v in keys.items()}


@pytest.mark.parametrize("seed,videos,days,daily", [(1, 40, 14, 0), (2, 13, 7, 3), (9, 61, 10, 2)])
def test_expected_counts_match_payloads(seed, videos, days, daily):
    g = ChannelGenerator(seed, videos, days)
    snaps = [g.backfill()] + [g.daily(k) for k in range(1, daily + 1)]
    assert g.expected_gold_counts(snaps) == _keys_from_payloads(g, snaps)


def test_closed_form_backfill_counts():
    g = ChannelGenerator(1, 40, 14)
    c = g.expected_gold_counts([g.backfill()])
    assert c["gold_video_daily_summary"] == 40 * 14
    assert c["gold_video_country_daily_summary"] == 40 * 14 * len(COUNTRIES)
    assert c["gold_video_traffic_source_daily_summary"] == len(TRAFFIC_SOURCES) * (36 * 14 + 4)

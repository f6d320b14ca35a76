"""Seeded YouTube Data API v3 page generator for the `etl_daily` workload.

Writes the three endpoints' response pages, shaped like FIXTURES.md §A,
in the directory layout `graft.RunPipeline` reads:

    <out>/day1/{channels,playlists,videos}/NNNNN.json
    <out>/day2/{channels,playlists,videos}/NNNNN.json

Day 2 is day 1 plus about 1% new uploads. The data carries the edge
cases the ETL has to survive: ~2% of playlist items repeat a video id
that another channel's playlist already lists, ~5% of videos lack like
or comment counts, ~20% lack tags, durations mix PT#S / PT#M#S /
PT#H#M#S / P#DT#H, and some `viewCount`s are "0".

The same seed gives identical bytes. `manifest.json` records, per day,
the playlist items fetched, the unique ids, the duplicates collapsed and
the ids new relative to the day before.
"""
import json
import os
import random
import sys

PAGE = 50  # the API's maxResults
CHANNELS = 120
UPLOADS = (30, 90)  # uploads per channel, uniform
CROSS_DUP = 0.02
NEW_FRAC = 0.01
TAGS = ["spark", "etl", "music", "news", "howto", "gaming", "review",
        "live", "tutorial", "vlog", "data", "sql"]
COUNTRIES = ["US", "IN", "GB", "DE", "BR", "JP"]


def _duration(rng):
    k = rng.randrange(4)
    if k == 0:
        return f"PT{rng.randint(1, 59)}S"
    if k == 1:
        return f"PT{rng.randint(1, 59)}M{rng.randint(0, 59)}S"
    if k == 2:
        return f"PT{rng.randint(1, 3)}H{rng.randint(0, 59)}M{rng.randint(0, 59)}S"
    return f"P{rng.randint(1, 2)}DT{rng.randint(0, 23)}H"


def _ts(rng):
    return (f"20{rng.randint(15, 24):02d}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
            f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")


def _video(rng, vid, channel_title):
    stats = {"viewCount": "0" if rng.random() < 0.03
             else str(rng.randint(1, 2_000_000)),
             "favoriteCount": "0"}
    if rng.random() >= 0.05:
        stats["likeCount"] = str(rng.randint(0, 50_000))
    if rng.random() >= 0.05:
        stats["commentCount"] = str(rng.randint(0, 5_000))
    snippet = {"channelTitle": channel_title,
               "title": f"video {vid}",
               "description": "" if rng.random() < 0.1
               else " ".join(rng.choices(TAGS, k=rng.randint(3, 30))),
               "publishedAt": _ts(rng)}
    if rng.random() >= 0.20:
        snippet["tags"] = rng.sample(TAGS, rng.randint(1, 5))
    return {"id": vid, "snippet": snippet, "statistics": stats,
            "contentDetails": {"duration": _duration(rng)}}


def _model(seed):
    """Channels with their day-1 and day-2 playlist contents and videos."""
    rng = random.Random(seed)
    channels, playlists, videos = [], {}, {}
    for c in range(CHANNELS):
        cid = f"UC{seed:04d}{c:05d}"
        title = f"channel {c}"
        stats = {"subscriberCount": "0" if c % 37 == 0
                 else str(rng.randint(10, 9_000_000)),
                 "viewCount": str(rng.randint(0, 10**9)),
                 "videoCount": "0"}
        snippet = {"title": title, "publishedAt": _ts(rng)}
        if rng.random() >= 0.1:
            snippet["country"] = rng.choice(COUNTRIES)
        pid = "UU" + cid[2:]
        channels.append({"snippet": snippet, "statistics": stats,
                         "contentDetails": {"relatedPlaylists": {"uploads": pid}}})
        ids = [f"v{seed:04d}{c:05d}{i:04d}" for i in range(rng.randint(*UPLOADS))]
        for vid in ids:
            videos[vid] = _video(rng, vid, title)
        playlists[pid] = ids
    # cross-playlist duplicates: a playlist also lists another channel's video
    all_ids = sorted(videos)
    pids = sorted(playlists)
    n_dup = round(CROSS_DUP * len(all_ids))
    for _ in range(n_dup):
        playlists[rng.choice(pids)].append(rng.choice(all_ids))
    day1 = {p: list(ids) for p, ids in playlists.items()}
    # day 2: ~1% new uploads, prepended like a real uploads playlist
    n_new = max(1, round(NEW_FRAC * len(all_ids)))
    new_ids = []
    for i in range(n_new):
        pid = rng.choice(pids)
        c = int(pid[-5:])
        vid = f"n{seed:04d}{c:05d}{i:04d}"
        videos[vid] = _video(rng, vid, f"channel {c}")
        playlists[pid].insert(0, vid)
        new_ids.append(vid)
    return channels, day1, playlists, videos, set(new_ids)


def _write_pages(d, name, pages):
    os.makedirs(os.path.join(d, name), exist_ok=True)
    for i, page in enumerate(pages):
        with open(os.path.join(d, name, f"{i:05d}.json"), "w") as f:
            json.dump(page, f, separators=(",", ":"))


def _write_day(d, channels, playlists, videos, ids):
    _write_pages(d, "channels", [{"items": channels[i:i + PAGE]}
                                 for i in range(0, len(channels), PAGE)])
    pages = []
    for pid in sorted(playlists):
        items = playlists[pid]
        chunks = [items[i:i + PAGE] for i in range(0, len(items), PAGE)] or [[]]
        for j, chunk in enumerate(chunks):
            page = {"items": [{"contentDetails": {"videoId": v}} for v in chunk]}
            if j + 1 < len(chunks):
                page["nextPageToken"] = f"{pid}:{j + 1}"
            pages.append(page)
    _write_pages(d, "playlists", pages)
    ordered = sorted(ids)
    _write_pages(d, "videos", [{"items": [videos[v] for v in ordered[i:i + PAGE]]}
                               for i in range(0, len(ordered), PAGE)])
    return len(pages)


def generate(out, seed):
    """Write both days' pages under `out`; return the manifest."""
    channels, day1, day2, videos, new_ids = _model(seed)
    manifest = {"seed": seed, "channels": len(channels)}
    prev = set()
    for day, pls in (("day1", day1), ("day2", day2)):
        fetched = [v for ids in pls.values() for v in ids]
        unique = set(fetched)
        n_pl_pages = _write_day(os.path.join(out, day), channels, pls,
                                videos, unique)
        manifest[day] = {
            "fetched": len(fetched), "unique": len(unique),
            "duplicates": len(fetched) - len(unique),
            "new": len(unique - prev),
            "pages": {"channels": -(-len(channels) // PAGE),
                      "playlists": n_pl_pages,
                      "videos": -(-len(unique) // PAGE)}}
        prev = unique
    assert manifest["day2"]["new"] == len(new_ids)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))

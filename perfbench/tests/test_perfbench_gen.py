"""The benchmark's inputs are a pure function of the seed."""

from __future__ import annotations

import gen


def _feed_file(tmp_path, seed: int, name: str) -> bytes:
    feed = gen.ChangeFeed(seed, gen.event_docs(seed, 500))
    path = tmp_path / name
    gen.write_lines(str(path), [line for _ in range(3) for line in feed.next_batch(400)])
    return path.read_bytes()


def test_same_seed_gives_identical_event_files(tmp_path):
    assert _feed_file(tmp_path, 7, "a.json") == _feed_file(tmp_path, 7, "b.json")


def test_other_seed_gives_other_event_files(tmp_path):
    assert _feed_file(tmp_path, 7, "a.json") != _feed_file(tmp_path, 8, "b.json")


def test_star_schema_files_follow_the_seed(tmp_path):
    def files(seed, sub):
        out = tmp_path / sub
        gen.write_star_schema(seed, str(out))
        return {p.name: p.read_bytes() for p in sorted(out.iterdir())}

    a, b, c = files(3, "a"), files(3, "b"), files(4, "c")
    assert len(a) == 10
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_change_feed_model_is_last_writer_wins():
    """Replaying the emitted events over the initial documents reaches
    the feed's model, which the daemon check compares the table with."""
    import json

    docs = gen.event_docs(1, 50)
    feed = gen.ChangeFeed(1, docs)
    replay = {k: gen._doc_json(v) for k, v in docs.items()}
    for line in feed.next_batch(400):
        ev = json.loads(line)
        if ev["operationType"] == "delete":
            del replay[ev["documentKey"]["_id"]]
        else:
            replay[ev["documentKey"]["_id"]] = ev["fullDocument"]
    assert replay == {k: gen._doc_json(v) for k, v in feed.model.items()}

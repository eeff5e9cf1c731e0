import os

from perfbench import gen


def _bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    args = (2, 300, 3, 1, 50, 1)
    a = gen.make_drop(7, str(tmp_path / "a"), *args)
    b = gen.make_drop(7, str(tmp_path / "b"), *args)
    c = gen.make_drop(8, str(tmp_path / "c"), *args)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")
    assert a.user_rows == b.user_rows and a.malformed == b.malformed


def test_drop_records_what_a_correct_ingest_lands(tmp_path):
    drop = gen.make_drop(3, str(tmp_path), 4, 2500, 4, 1, 500, 4)
    assert drop.lines == 4 * 2500 + 500
    assert sum(drop.user_hours.values()) == len(drop.user_rows)
    assert sum(drop.admin_hours.values()) == len(drop.admin_rows)
    assert 0 < len(drop.malformed) < 0.01 * drop.lines
    ids = [r[0] for r in drop.user_rows + drop.admin_rows]
    assert len(set(ids)) == len(ids)
    assert drop.bytes == sum(len(v) for v in _bytes(tmp_path).values())
    # late events reach back at most a minute before the first arrival
    t = gen.USER_COLUMNS.index("time")
    assert min(r[t] for r in drop.user_rows) >= gen.START_MS - gen.MAX_LATE_MS

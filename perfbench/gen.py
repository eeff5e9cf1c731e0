"""Seeded Keycloak event drops for the benchmark.

Writes newline-delimited JSON in the raw POJO shapes the store ingests
(``RAW_USER_EVENT_SCHEMA`` / ``RAW_ADMIN_EVENT_SCHEMA``): one file per
slice of arrival time, so one micro-batch drains one file. Users are
Pareto-skewed, events come from 8 realms and 40 clients, about 5% of
events arrive up to 60 s late, and about 0.2% of lines are malformed.

The drop also records what a correct ingest must produce: the
flattened good rows, the malformed lines, and the row count per event
time ``(dt, hour)``. Only ``random.Random(seed)`` feeds it, so the same
arguments give the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

REALMS = 8
CLIENTS = 40
USERS = 5000
START_MS = 1709251200000  # 2024-03-01T00:00:00Z
HOUR_MS = 3_600_000
LATE_SHARE = 0.05
MAX_LATE_MS = 60_000
MALFORMED_SHARE = 0.002

USER_TYPES = [
    ("LOGIN", 30), ("CODE_TO_TOKEN", 25), ("REFRESH_TOKEN", 20),
    ("LOGOUT", 10), ("LOGIN_ERROR", 8), ("UPDATE_PASSWORD", 3),
    ("REGISTER", 2), ("CODE_TO_TOKEN_ERROR", 2),
]
ADMIN_OPS = [("UPDATE", 45), ("CREATE", 30), ("DELETE", 15), ("ACTION", 10)]
ADMIN_RESOURCES = [
    ("USER", 50), ("CLIENT", 15), ("GROUP_MEMBERSHIP", 12), ("REALM_ROLE", 10),
    ("GROUP", 8), ("CLIENT_ROLE", 4), ("REALM", 1),
]

#: Flattened column order, as the store lands them (before dt/hour).
USER_COLUMNS = (
    "id", "eventtype", "realmid", "realmname", "clientid", "userid",
    "sessionid", "ipaddress", "error", "time", "detailsjson",
)
ADMIN_COLUMNS = (
    "id", "time", "realmid", "realmname", "operationtype", "resourcetype",
    "resourcepath", "representation", "error", "authrealmid",
    "authrealmname", "authclientid", "authuserid", "authipaddress",
    "detailsjson",
)


@dataclass
class Drop:
    """One generated drop and the outcome a correct ingest produces."""

    user_dir: str
    admin_dir: str
    user_rows: list[tuple] = field(default_factory=list)
    admin_rows: list[tuple] = field(default_factory=list)
    malformed: list[str] = field(default_factory=list)
    user_hours: Counter = field(default_factory=Counter)
    admin_hours: Counter = field(default_factory=Counter)
    bytes: int = 0

    @property
    def lines(self) -> int:
        return len(self.user_rows) + len(self.admin_rows) + len(self.malformed)


def dt_hour(ms: int) -> tuple[str, int]:
    hours = ms // 3_600_000
    day = (dt.date(1970, 1, 1) + dt.timedelta(days=hours // 24)).isoformat()
    return day, hours % 24


def _pick(rng: random.Random, weighted: list[tuple[str, int]]) -> str:
    return rng.choices([w[0] for w in weighted], [w[1] for w in weighted])[0]


def _hex_uuid(bits: int) -> str:
    h = f"{bits:032x}"
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-{h[16:20]}-{h[20:]}"


def _uuid(rng: random.Random) -> str:
    return _hex_uuid(rng.getrandbits(128))


def _user(idx: int) -> tuple[str, int]:
    """Stable user id and home realm of the idx-th user."""
    return _hex_uuid(((idx + 1) * 0x9E3779B97F4A7C15F39CC0605CEDC835) % (1 << 128)), idx % REALMS


def _ip(idx: int) -> str:
    return f"10.{idx % 251}.{(idx // 251) % 251}.{7 + idx % 200}"


def _json(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _malformed(rng: random.Random, line: str) -> str:
    if rng.random() < 0.5:
        return line[: len(line) // 2]  # truncated mid-record
    return f"<<firehose garbage {rng.getrandbits(32):08x}>>"


def _event_time(rng: random.Random, i: int, n: int, span_ms: int) -> int:
    arrival = START_MS + (i * span_ms) // n
    if rng.random() < LATE_SHARE:
        return arrival - rng.randint(1, MAX_LATE_MS)
    return arrival


def _user_event(rng: random.Random, t: int) -> tuple[dict, tuple]:
    idx = int((rng.paretovariate(1.16) - 1) * 50) % USERS
    user_id, realm = _user(idx)
    client = f"app-{realm * (CLIENTS // REALMS) + min(int(rng.expovariate(0.8)), CLIENTS // REALMS - 1):02d}"
    etype = _pick(rng, USER_TYPES)
    error = "invalid_user_credentials" if etype.endswith("_ERROR") else None
    details = None
    if etype in ("LOGIN", "LOGIN_ERROR", "REGISTER"):
        details = {"auth_method": "openid-connect", "username": f"user{idx}"}
    elif etype == "CODE_TO_TOKEN":
        details = {"grant_type": "authorization_code", "token_id": _uuid(rng)}
    ev = {
        "id": _uuid(rng),
        "type": etype,
        "realmId": f"realm-{realm}",
        "realmName": f"Realm {realm}",
        "clientId": client,
        "userId": user_id,
        "sessionId": _uuid(rng),
        "ipAddress": _ip(idx),
        "error": error,
        "time": t,
        "details": details,
    }
    row = (
        ev["id"], etype, ev["realmId"], ev["realmName"], client, user_id,
        ev["sessionId"], ev["ipAddress"], error, t,
        None if details is None else _json(details),
    )
    return ev, row


def _admin_event(rng: random.Random, t: int) -> tuple[dict, tuple]:
    idx = int((rng.paretovariate(1.16) - 1) * 50) % USERS
    user_id, realm = _user(idx)
    op = _pick(rng, ADMIN_OPS)
    resource = _pick(rng, ADMIN_RESOURCES)
    rep = _json({"id": user_id, "enabled": True}) if op in ("CREATE", "UPDATE") else None
    admin_idx = rng.randrange(4)
    admin_id, _ = _user(USERS + admin_idx)
    ev = {
        "id": _uuid(rng),
        "time": t,
        "realmId": f"realm-{realm}",
        "realmName": f"Realm {realm}",
        "operationType": op,
        "resourceType": resource,
        "resourcePath": f"users/{user_id}",
        "representation": rep,
        "error": None,
        "authDetails": {
            "realmId": "master",
            "realmName": "master",
            "clientId": "admin-cli",
            "userId": admin_id,
            "ipAddress": _ip(USERS + admin_idx),
        },
        "details": None,
    }
    row = (
        ev["id"], t, ev["realmId"], ev["realmName"], op, resource,
        ev["resourcePath"], rep, None, "master", "master", "admin-cli",
        admin_id, _ip(USERS + admin_idx), None,
    )
    return ev, row


def _write_files(
    rng: random.Random, out_dir: str, prefix: str, files: int, per_file: int,
    span_h: int, make, columns: tuple, rows: list, hours: Counter, drop: Drop,
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = files * per_file
    for f in range(files):
        lines = []
        for j in range(per_file):
            ev, row = make(rng, _event_time(rng, f * per_file + j, n, span_h * HOUR_MS))
            line = _json(ev)
            if rng.random() < MALFORMED_SHARE:
                line = _malformed(rng, line)
                drop.malformed.append(line)
            else:
                rows.append(row)
                hours[dt_hour(row[columns.index("time")])] += 1
            lines.append(line)
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out_dir, f"{prefix}-{f:03d}.json"), "wb") as fh:
            fh.write(data)
        drop.bytes += len(data)


def make_drop(
    seed: int, root: str, user_files: int, user_per_file: int, user_span_h: int,
    admin_files: int, admin_per_file: int, admin_span_h: int,
) -> Drop:
    """Write a drop under ``root/{user,admin}`` and return it. Each
    stream's events arrive evenly over its span of hours from
    ``START_MS``, and each file holds the next slice of arrivals."""
    rng = random.Random(seed)
    drop = Drop(os.path.join(root, "user"), os.path.join(root, "admin"))
    _write_files(rng, drop.user_dir, "user", user_files, user_per_file, user_span_h,
                 _user_event, USER_COLUMNS, drop.user_rows, drop.user_hours, drop)
    _write_files(rng, drop.admin_dir, "admin", admin_files, admin_per_file, admin_span_h,
                 _admin_event, ADMIN_COLUMNS, drop.admin_rows, drop.admin_hours, drop)
    return drop

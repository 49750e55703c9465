"""The benchmark's own copies of the modules it drives, and their event
payloads.

``CHAT`` folds set-wise (one ``INSERT … SELECT FROM event`` per batch),
keeps read markers in a state table, and has an authorizer that rejects
any batch holding an event without ``content``.  ``COUNTER`` folds in
pooled per-key rounds (an insert and an event-keyed accumulating update
share the target).  ``DEDUP`` is the ``NOT EXISTS`` idiom, compiled to one
set-wise statement.  Kept here, not imported from the test fixtures, so
that edits to the tests cannot change a workload.
"""

from __future__ import annotations

from leaf_spark import drisl
from leaf_spark.module import BasicModuleDef, QueryDef
from leaf_spark.types import IncomingEvent

CHAT = BasicModuleDef(
    init_sql=(
        "create table if not exists messages (idx integer primary key, sender text not null, "
        "content text not null, sent_at integer not null); "
        "create table if not exists bans (user text primary key);"
    ),
    authorizer=(
        "select iif(exists(select 1 from bans where user = (select user from event)), "
        "unauthorized('banned user'), 1); "
        "select iif(drisl_exists((select payload from event), '.content'), 1, "
        "throw('missing content'));"
    ),
    materializer=(
        "insert into messages (idx, sender, content, sent_at) "
        "select idx, user, drisl_extract(payload, '.content'), "
        "coalesce(drisl_extract_int(payload, '.sentAt'), unixepoch()) from event;"
    ),
    state_init_sql=(
        "create table if not exists state.read_markers "
        "(user text primary key, last_read integer not null);"
    ),
    state_materializer=(
        "insert into state.read_markers (user, last_read) "
        "select user, drisl_extract_int(payload, '.lastRead') from event where true "
        "on conflict(user) do update set last_read = excluded.last_read;"
    ),
    queries=(
        QueryDef(
            "messages",
            "select idx, sender, content, sent_at from messages where idx >= $start "
            "order by idx limit $limit",
        ),
        QueryDef(
            "message_stats",
            "select sender, count(*) as n, min(sent_at) as first_at, max(sent_at) as last_at "
            "from messages group by sender order by n desc, sender",
        ),
        QueryDef(
            "my_unread",
            "select count(*) as unread from messages where idx > "
            "coalesce((select last_read from state.read_markers "
            "where user = $requesting_user), 0)",
        ),
    ),
)

COUNTER = BasicModuleDef(
    init_sql=(
        "create table if not exists counters (name text primary key, value integer not null)"
    ),
    materializer=(
        "insert into counters (name, value) "
        "select drisl_extract(payload, '.name'), 0 from event "
        "where true on conflict(name) do nothing; "
        "update counters set value = value + "
        "(select drisl_extract_int(payload, '.delta') from event) "
        "where name = (select drisl_extract(payload, '.name') from event);"
    ),
    queries=(QueryDef("counters", "select name, value from counters order by name"),),
)

DEDUP = BasicModuleDef(
    init_sql="create table if not exists seen (key text not null, idx integer not null)",
    materializer=(
        "insert into seen (key, idx) "
        "select drisl_extract(payload, '.key'), idx from event "
        "where not exists (select 1 from seen where key = drisl_extract(payload, '.key'));"
    ),
    queries=(QueryDef("seen", "select key, idx from seen order by idx"),),
)


# -- events -------------------------------------------------------------------


def chat_event(user: str, content: str, at: int) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode({"content": content, "sentAt": at}))


def chat_payload(content: str, at: int) -> bytes:
    return drisl.encode({"content": content, "sentAt": at})


def malformed_payload(at: int) -> bytes:
    """A chat event without ``content``: the authorizer rejects its batch."""
    return drisl.encode({"body": "no content field", "sentAt": at})


def preload_row(i: int) -> tuple[str, str, int]:
    """(sender, content, sentAt) of the i-th preloaded chat event."""
    return f"did:plc:pre{i % 40}", f"pre-{i}", 1_600_000_000 + i


def marker_payload(last_read: int) -> bytes:
    return drisl.encode({"lastRead": last_read})


def counter_event(user: str, name: str, delta: int) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode({"name": name, "delta": delta}))


def dedup_event(user: str, key: str) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode({"key": key}))

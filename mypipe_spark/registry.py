"""Versioned schema registry (SURVEY §2.11, R1-R7).

Rebuilds the reference's Avro schema-repository client semantics —
bi-directional id↔schema caches per subject, a latest-schema cache
with explicit flush, register-returns-id — as a plain Python
component (reference: mypipe-avro/.../GenericSchemaRepository.scala:10-260,
InMemorySchemaRepo.scala:6-12).

"Schemas" here are strings: a Spark StructType's ``.json()``, an Avro
schema JSON, or any serialized descriptor. Ids are per-subject Shorts
starting at 1, exactly the 2-byte ids the wire format frames
(KafkaGenericAvroSerializer.scala:32-33).

On a cluster the registry contents are a driver-side dict that gets
**broadcast** with the query plan (it is a few KB — never a shuffle).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql.types import StructType

from .model import generic_subject, specific_subject


@dataclass
class _Subject:
    by_id: dict[int, str] = field(default_factory=dict)
    by_schema: dict[str, int] = field(default_factory=dict)
    latest_id: int = 0


class SchemaRegistry:
    """In-memory versioned schema store + caching-client semantics.

    Mirrors the trait at GenericSchemaRepository.scala:10-35:

      - ``register(subject, schema) -> id`` (idempotent per schema text)
      - ``get_schema(subject, id) -> schema``
      - ``get_schema_id(subject, schema) -> id``
      - ``get_latest(subject, flush_cache=False) -> (id, schema)``

    The *latest* cache is the one that can go stale in the reference
    (a new schema version registered elsewhere); ``flush_cache=True``
    re-reads the authoritative store — that is the flush-and-retry the
    Kafka serializer performs on a build failure
    (KafkaAvroSerializer.scala:41-67).
    """

    MAX_ID = 0x7FFF  # wire format carries a 2-byte big-endian Short

    def __init__(self) -> None:
        self._store: dict[str, _Subject] = {}
        self._latest_cache: dict[str, tuple[int, str]] = {}
        self._lock = threading.RLock()

    # -- writes -------------------------------------------------------------

    def register(self, subject: str, schema: str | StructType) -> int:
        text = schema.json() if isinstance(schema, StructType) else schema
        with self._lock:
            sub = self._store.setdefault(subject, _Subject())
            if text in sub.by_schema:
                return sub.by_schema[text]
            new_id = sub.latest_id + 1
            if new_id > self.MAX_ID:
                raise OverflowError(f"subject {subject} exceeded 2-byte schema-id space")
            sub.by_id[new_id] = text
            sub.by_schema[text] = new_id
            sub.latest_id = new_id
            # registering through this client keeps its own latest fresh
            self._latest_cache[subject] = (new_id, text)
            return new_id

    # -- reads --------------------------------------------------------------

    def get_schema(self, subject: str, schema_id: int) -> str | None:
        sub = self._store.get(subject)
        return sub.by_id.get(schema_id) if sub else None

    def get_schema_id(self, subject: str, schema: str | StructType) -> int | None:
        text = schema.json() if isinstance(schema, StructType) else schema
        sub = self._store.get(subject)
        return sub.by_schema.get(text) if sub else None

    def get_latest(self, subject: str, flush_cache: bool = False) -> tuple[int, str] | None:
        with self._lock:
            if flush_cache:
                self._latest_cache.pop(subject, None)
            if subject in self._latest_cache:
                return self._latest_cache[subject]
            sub = self._store.get(subject)
            if not sub or not sub.latest_id:
                return None
            entry = (sub.latest_id, sub.by_id[sub.latest_id])
            self._latest_cache[subject] = entry
            return entry

    def subjects(self) -> list[str]:
        return sorted(self._store)

    def versions(self, subject: str) -> list[int]:
        sub = self._store.get(subject)
        return sorted(sub.by_id) if sub else []


def struct_from_schema_text(text: str) -> StructType | None:
    """Registered schema text → StructType, or None when the text is
    not StructType JSON (e.g. an Avro record schema registered by
    another producer). The ONE parse every consumer shares — before
    round 11 this try/except lived in four call sites with three
    different behaviors (round-11 review); each site still chooses
    what None means (degrade / skip / raise a guided error)."""
    import json

    try:
        return StructType.fromJson(json.loads(text))
    except (ValueError, KeyError, TypeError):
        return None


def table_schema(reg, database: str, table: str) -> StructType | None:
    """The table's latest StructType, registered under its insert
    subject (register_table writes the same text under all three); None
    when nothing is registered there or the text is not StructType
    JSON. Each caller chooses what None means."""
    latest = reg.get_latest(specific_subject(database, table, "insert"))
    return None if latest is None else struct_from_schema_text(latest[1])


GENERIC_ENVELOPE_DESCRIPTOR = "mypipe_spark.generic_envelope.v1"


def in_memory_repo() -> SchemaRegistry:
    """The pre-seeded in-memory repo (R3): registers the three generic
    envelope subjects the way GenericInMemorySchemaRepo.scala:13-17
    pre-registers insert/update/delete envelope schemas."""
    reg = SchemaRegistry()
    for mtype in ("insert", "update", "delete"):
        reg.register(generic_subject(mtype), GENERIC_ENVELOPE_DESCRIPTOR)
    return reg


def register_table(
    reg: SchemaRegistry, database: str, table: str, schema: StructType
) -> dict[str, int]:
    """R6 — register one table's StructType under all three mutation
    subjects (the RegisterSchemaApp CLI analog); returns subject→id."""
    return {
        (s := specific_subject(database, table, mtype)): reg.register(s, schema)
        for mtype in ("insert", "update", "delete")
    }


# ---------------------------------------------------------------------------
# persistence (file-backed store for the CLI / cross-process sharing)
# ---------------------------------------------------------------------------


def save_registry(reg: SchemaRegistry, path: str) -> None:
    """Serialize the full versioned store to JSON — the durable
    backing the reference gets from its AVRO-1124 REST repository
    (GenericSchemaRepository.scala:42-260); here a plain file works
    because the registry is tiny and read-mostly."""
    import json

    data = {
        subject: {str(i): reg.get_schema(subject, i) for i in reg.versions(subject)}
        for subject in reg.subjects()
    }
    with open(path, "w") as f:
        json.dump(data, f, indent=2, sort_keys=True)


def load_registry(path: str) -> SchemaRegistry:
    """Rebuild a SchemaRegistry from :func:`save_registry` output,
    preserving version ids (registration replays in id order)."""
    import json

    with open(path) as f:
        data = json.load(f)
    reg = SchemaRegistry()
    for subject, versions in data.items():
        for i in sorted(versions, key=int):
            assigned = reg.register(subject, versions[i])
            if assigned != int(i):
                raise ValueError(
                    f"non-contiguous version ids for {subject}: {sorted(versions)}"
                )
    return reg


# ---------------------------------------------------------------------------
# REST-backed repository (R2) — the caching HTTP client + a loopback server
# ---------------------------------------------------------------------------

# Wire protocol (JSON over HTTP, AVRO-1124-style like the reference's
# GenericSchemaRepository.scala:42-260 backend):
#   GET  /subjects                     -> ["subject", ...]
#   GET  /subject/<s>/versions         -> [1, 2, ...]
#   GET  /subject/<s>/id/<id>          -> {"id": n, "schema": text}
#   GET  /subject/<s>/latest           -> {"id": n, "schema": text}
#   POST /subject/<s>/register  body=schema text -> {"id": n}
#   POST /subject/<s>/lookup    body=schema text -> {"id": n}
# 404 with a JSON error body for unknown subject/id/schema.
# Subjects travel percent-encoded in the path (<s> above): names come
# from user database/table identifiers, and a space, '#', '?', or '/'
# spliced raw into the request line would truncate or misroute it.


def _urlsub(subject: str) -> str:
    from urllib.parse import quote

    return quote(subject, safe="")


def _unsub(path_segment: str) -> str:
    from urllib.parse import unquote

    return unquote(path_segment)


class RestSchemaRegistry:
    """Caching REST client with the same surface as
    :class:`SchemaRegistry` — the rebuild of the reference's caching
    repository client (GenericSchemaRepository.scala:42-260):
    bi-directional id↔schema caches per subject (populated on every
    fetch, so repeat lookups never re-hit the network) and a
    latest-schema cache whose explicit ``flush_cache=True`` re-read is
    the flush-and-retry the Kafka serializer performs on a schema
    mismatch (KafkaAvroSerializer.scala:41-67).

    Ids and schemas are immutable once assigned, so the id↔schema
    caches never go stale; only *latest* can (a newer version
    registered by another client) — exactly the reference's cache
    split."""

    def __init__(self, base_url: str, timeout_s: float = 5.0) -> None:
        self.base_url = base_url.rstrip("/")
        self.timeout_s = timeout_s
        self._cache: dict[str, _Subject] = {}
        self._latest_cache: dict[str, tuple[int, str]] = {}
        # per-subject invalidation generation: get_latest snapshots it
        # before its (unlocked) GET and refuses to cache the response
        # if a register() bumped it meanwhile — without this, a fetch
        # in flight across a concurrent register could re-cache the
        # STALE latest forever (round-11 review; the round-8
        # pinned-stale-latest bug through a race window)
        self._latest_gen: dict[str, int] = {}
        self._lock = threading.RLock()

    # -- HTTP plumbing ------------------------------------------------------

    def _http(self, method: str, path: str, body: str | None = None):
        import json
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            f"{self.base_url}{path}",
            data=body.encode() if body is not None else None,
            method=method,
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                return json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            if e.code == 404:
                # Only ENTITY 404s ("no such subject/schema") mean
                # not-registered; a ROUTE-level 404 (misconfigured
                # base_url, proxy prefix, wrong server) must raise —
                # returning None here would make every lookup report
                # "not registered" and silently dead-letter the whole
                # stream with zero diagnostics pointing at the URL
                # (round-11 review; the server sends distinct error
                # bodies precisely for this)
                try:
                    detail = json.loads(e.read().decode()).get("error", "")
                except Exception:  # noqa: BLE001 — non-JSON 404 body
                    detail = ""
                if detail == "unknown route":
                    raise RuntimeError(
                        f"schema registry at {self.base_url!r} does not "
                        f"serve {path!r} (route-level 404) — check "
                        "base_url"
                    ) from e
                return None
            raise

    def _remember(self, subject: str, schema_id: int, text: str) -> None:
        sub = self._cache.setdefault(subject, _Subject())
        sub.by_id[schema_id] = text
        sub.by_schema[text] = schema_id
        sub.latest_id = max(sub.latest_id, schema_id)

    # -- SchemaRegistry surface ----------------------------------------------

    # Locking discipline: the lock protects only the in-memory caches —
    # NEVER a blocking HTTP call. Holding it across the network would
    # stall every other thread's pure cache hits (the documented
    # "repeat lookups never re-hit the network" hot path) for up to
    # timeout_s whenever the registry is slow. Ids and schemas are
    # immutable once assigned, so two racing fetches of the same thing
    # write the same value — last-writer-wins is harmless.

    def register(self, subject: str, schema: str | StructType) -> int:
        text = schema.json() if isinstance(schema, StructType) else schema
        with self._lock:
            sub = self._cache.get(subject)
            if sub and text in sub.by_schema:
                return sub.by_schema[text]
        out = self._http("POST", f"/subject/{_urlsub(subject)}/register", text)
        new_id = int(out["id"])
        with self._lock:
            self._remember(subject, new_id, text)
            # INVALIDATE the latest cache rather than set it: the
            # server's register is idempotent, so re-registering an
            # OLD version returns the old id — blindly caching it as
            # "latest" would pin every subsequent get_latest (and the
            # encode paths behind it) to a stale schema (round-8
            # review; the in-memory twin's early return dodges this by
            # construction). The next get_latest re-fetches — one GET.
            self._latest_cache.pop(subject, None)
            self._latest_gen[subject] = self._latest_gen.get(subject, 0) + 1
        return new_id

    def get_schema(self, subject: str, schema_id: int) -> str | None:
        with self._lock:
            sub = self._cache.get(subject)
            if sub and schema_id in sub.by_id:
                return sub.by_id[schema_id]
        out = self._http("GET", f"/subject/{_urlsub(subject)}/id/{schema_id}")
        if out is None:
            return None
        with self._lock:
            self._remember(subject, schema_id, out["schema"])
        return out["schema"]

    def get_schema_id(self, subject: str, schema: str | StructType) -> int | None:
        text = schema.json() if isinstance(schema, StructType) else schema
        with self._lock:
            sub = self._cache.get(subject)
            if sub and text in sub.by_schema:
                return sub.by_schema[text]
        out = self._http("POST", f"/subject/{_urlsub(subject)}/lookup", text)
        if out is None:
            return None
        with self._lock:
            self._remember(subject, int(out["id"]), text)
        return int(out["id"])

    def get_latest(
        self, subject: str, flush_cache: bool = False
    ) -> tuple[int, str] | None:
        with self._lock:
            if flush_cache:
                self._latest_cache.pop(subject, None)
            if subject in self._latest_cache:
                return self._latest_cache[subject]
            gen = self._latest_gen.get(subject, 0)
        out = self._http("GET", f"/subject/{_urlsub(subject)}/latest")
        if out is None:
            return None
        entry = (int(out["id"]), out["schema"])
        with self._lock:
            self._remember(subject, *entry)
            # cache only if no register() invalidated this subject
            # while the GET was in flight — the response may predate
            # the newly registered version, and caching it would pin
            # a stale latest forever (see _latest_gen in __init__)
            if self._latest_gen.get(subject, 0) == gen:
                self._latest_cache[subject] = entry
        return entry

    def subjects(self) -> list[str]:
        return list(self._http("GET", "/subjects"))

    def versions(self, subject: str) -> list[int]:
        out = self._http("GET", f"/subject/{_urlsub(subject)}/versions")
        return [int(i) for i in out] if out is not None else []


def serve_registry(reg: SchemaRegistry, host: str = "127.0.0.1", port: int = 0):
    """Expose a :class:`SchemaRegistry` over the REST protocol above on
    a stdlib HTTP server. Returns ``(server, base_url)``; run with
    ``threading.Thread(target=server.serve_forever, daemon=True)`` and
    stop with ``server.shutdown()``. Loopback-tested stand-in for the
    reference's schema-repo service."""
    import json
    import re
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    def reply(handler, code: int, obj) -> None:
        body = json.dumps(obj).encode()
        handler.send_response(code)
        handler.send_header("Content-Type", "application/json")
        handler.send_header("Content-Length", str(len(body)))
        handler.end_headers()
        handler.wfile.write(body)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # quiet test output
            pass

        def do_GET(self) -> None:
            if self.path == "/subjects":
                return reply(self, 200, reg.subjects())
            if m := re.fullmatch(r"/subject/([^/]+)/versions", self.path):
                return reply(self, 200, reg.versions(_unsub(m.group(1))))
            if m := re.fullmatch(r"/subject/([^/]+)/latest", self.path):
                latest = reg.get_latest(_unsub(m.group(1)), flush_cache=True)
                if latest is None:
                    return reply(self, 404, {"error": "no such subject"})
                return reply(self, 200, {"id": latest[0], "schema": latest[1]})
            if m := re.fullmatch(r"/subject/([^/]+)/id/(\d+)", self.path):
                schema = reg.get_schema(_unsub(m.group(1)), int(m.group(2)))
                if schema is None:
                    return reply(self, 404, {"error": "no such schema id"})
                return reply(self, 200, {"id": int(m.group(2)), "schema": schema})
            reply(self, 404, {"error": "unknown route"})

        def do_POST(self) -> None:
            length = int(self.headers.get("Content-Length", "0"))
            body = self.rfile.read(length).decode()
            if m := re.fullmatch(r"/subject/([^/]+)/register", self.path):
                try:
                    return reply(self, 200, {"id": reg.register(_unsub(m.group(1)), body)})
                except OverflowError as e:
                    return reply(self, 409, {"error": str(e)})
            if m := re.fullmatch(r"/subject/([^/]+)/lookup", self.path):
                sid = reg.get_schema_id(_unsub(m.group(1)), body)
                if sid is None:
                    return reply(self, 404, {"error": "schema not registered"})
                return reply(self, 200, {"id": sid})
            reply(self, 404, {"error": "unknown route"})

    server = ThreadingHTTPServer((host, port), Handler)
    return server, f"http://{server.server_address[0]}:{server.server_address[1]}"

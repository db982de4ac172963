"""Consumer-group coordinator: the Join/Sync/Heartbeat/Leave rebalance
protocol with generation fencing — the classic Kafka group dance.

Reference parity: nisshi-broker/src/coordinator/group/administrator.rs
(the Forming/Formed typestate machine, ~4.6k LoC there). Semantics
replicated:

- JoinGroup (administrator.rs:1957-2173 Forming, 2502-2840 Formed):
  * no protocols → INVALID_REQUEST
  * protocol-name mismatch with the group's chosen protocol →
    INCONSISTENT_GROUP_PROTOCOL (first joiner fixes type+name)
  * empty member id (dynamic) → MEMBER_ID_REQUIRED with a fresh
    "{client_id}-{uuid4}" id; the member is pre-registered and must
    re-join with that id (Kafka's two-step join)
  * static membership (group.instance.id) maps back to its existing
    member id; metadata updates by static members do NOT bump the
    generation ("soft update"), dynamic updates do
  * a join that changes membership while Formed transitions the group
    back to Forming with generation_id + 1; a no-op re-join of a known
    member with identical metadata leaves the generation alone
  * the first member becomes leader; only the leader's join response
    carries the full member list (it needs it to run the assignor)
- SyncGroup (administrator.rs:2175-2341 Forming, 2842-2920 Formed):
  * UNKNOWN_MEMBER_ID for strangers; generation ahead of the group →
    ILLEGAL_GENERATION; behind → REBALANCE_IN_PROGRESS
  * while Forming, only the LEADER carrying assignments for EXACTLY the
    current member set completes the rebalance (anything else →
    REBALANCE_IN_PROGRESS; followers park and retry); completion flips
    the group to Formed and hands each caller its assignment
- Heartbeat (administrator.rs:2343-2407, 2922-2977 + Wrapper
  missed_heartbeat 445-477): strangers → UNKNOWN_MEMBER_ID; generation
  ahead → ILLEGAL_GENERATION; session-timeout eviction runs on every
  contact — an eviction while Formed re-forms the group at
  generation_id + 1 and the caller sees REBALANCE_IN_PROGRESS (as does
  any caller on a stale generation)
- LeaveGroup (administrator.rs:2409-2470, 2979-3046): per-member NONE /
  UNKNOWN_MEMBER_ID responses; any successful removal bumps the
  generation, and a Formed group re-forms (leader cleared if it left)
- OffsetCommit fencing (administrator.rs:1804-1843
  ``offset_commit_fence``): a generation-less, member-less commit (simple
  consumer) is only accepted while the group has NO members; a commit
  naming a member must name a current one; the generation can never be
  newer than the group's, and once Formed it must match EXACTLY — a
  fenced member cannot move offsets owned by its successor. Offsets land
  in the broker's durable group cursor store.

The group document persists to ``<root>/groups_meta/<group>.json`` after
every mutation (the reference's Storage::update_group); timeouts are
caller-supplied ``now`` friendly so eviction is testable without
sleeping. All of this is control-plane state — no Spark jobs anywhere.
"""

from __future__ import annotations

import base64
import time
import uuid as uuidlib
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from tansu_spark import metrics as M
from tansu_spark.broker.state import file_lock, read_json, write_json_atomic


class ErrorCode(str, Enum):
    NONE = "NONE"
    INVALID_REQUEST = "INVALID_REQUEST"
    NON_EMPTY_GROUP = "NON_EMPTY_GROUP"
    GROUP_ID_NOT_FOUND = "GROUP_ID_NOT_FOUND"
    INCONSISTENT_GROUP_PROTOCOL = "INCONSISTENT_GROUP_PROTOCOL"
    MEMBER_ID_REQUIRED = "MEMBER_ID_REQUIRED"
    UNKNOWN_MEMBER_ID = "UNKNOWN_MEMBER_ID"
    ILLEGAL_GENERATION = "ILLEGAL_GENERATION"
    REBALANCE_IN_PROGRESS = "REBALANCE_IN_PROGRESS"


@dataclass
class Member:
    member_id: str
    group_instance_id: str | None
    metadata: bytes
    last_contact: float


@dataclass
class Group:
    session_timeout_ms: int = 45_000
    rebalance_timeout_ms: int | None = None
    generation_id: int = 0
    members: dict[str, Member] = field(default_factory=dict)
    protocol_type: str | None = None
    protocol_name: str | None = None
    leader: str | None = None
    formed: bool = False  # Forming=False / Formed=True typestate flag
    assignments: dict[str, bytes] = field(default_factory=dict)  # Formed only

    def to_form(self) -> None:
        """Formed → Forming at generation_id + 1 (rebalance trigger)."""
        self.formed = False
        self.generation_id += 1
        self.assignments = {}


class GroupCoordinator:
    """Control-plane group coordinator over a broker's store root."""

    def __init__(self, broker):
        import os

        self.broker = broker
        self.root = os.path.join(broker.root, "groups_meta")
        os.makedirs(self.root, exist_ok=True)
        self._groups: dict[str, Group] = {}
        self._load()

    # -------------------------------------------------------------- persist
    def _path(self, group_id: str) -> str:
        import os

        return os.path.join(self.root, f"{group_id}.json")

    def _lock(self):
        import os

        return file_lock(os.path.join(self.root, ".lock"))

    def _save(self, group_id: str, g: Group) -> None:
        doc = {
            "session_timeout_ms": g.session_timeout_ms,
            "rebalance_timeout_ms": g.rebalance_timeout_ms,
            "generation_id": g.generation_id,
            "protocol_type": g.protocol_type,
            "protocol_name": g.protocol_name,
            "leader": g.leader,
            "formed": g.formed,
            "members": {
                m.member_id: {
                    "group_instance_id": m.group_instance_id,
                    "metadata": base64.b64encode(m.metadata).decode(),
                    "last_contact": m.last_contact,
                }
                for m in g.members.values()
            },
            "assignments": {
                k: base64.b64encode(v).decode() for k, v in g.assignments.items()
            },
        }
        write_json_atomic(self._path(group_id), doc)

    def _load(self) -> None:
        import glob
        import os

        for path in glob.glob(os.path.join(self.root, "*.json")):
            gid = os.path.splitext(os.path.basename(path))[0]
            doc = read_json(path, None)
            if not doc:
                continue
            g = Group(
                session_timeout_ms=doc["session_timeout_ms"],
                rebalance_timeout_ms=doc.get("rebalance_timeout_ms"),
                generation_id=doc["generation_id"],
                protocol_type=doc.get("protocol_type"),
                protocol_name=doc.get("protocol_name"),
                leader=doc.get("leader"),
                formed=doc.get("formed", False),
            )
            for mid, m in doc.get("members", {}).items():
                g.members[mid] = Member(
                    mid,
                    m.get("group_instance_id"),
                    base64.b64decode(m["metadata"]),
                    m.get("last_contact", 0.0),
                )
            g.assignments = {
                k: base64.b64decode(v) for k, v in doc.get("assignments", {}).items()
            }
            self._groups[gid] = g

    # -------------------------------------------------------------- helpers
    def _group(self, group_id: str) -> Group:
        return self._groups.setdefault(group_id, Group())

    def _peek(self, group_id: str) -> Group | None:
        """Read-only lookup: unlike _group, does NOT materialize a
        phantom group. Kafka's describe/heartbeat/leave on an unknown
        group answer Dead/UNKNOWN_MEMBER_ID without creating state (r10
        control-plane hostile find: a monitoring tool describing groups
        was creating them)."""
        return self._groups.get(group_id)

    def _evict_expired(self, g: Group, now: float) -> bool:
        """Session-timeout eviction (Inner::missed_heartbeat). Returns
        True when membership shrank; the caller handles the typestate
        consequence (Wrapper::missed_heartbeat: Formed → Forming+1)."""
        timeout = g.session_timeout_ms / 1000.0
        expired = [
            mid for mid, m in g.members.items() if now - m.last_contact > timeout
        ]
        for mid in expired:
            del g.members[mid]
            if g.leader == mid:
                g.leader = None
        return bool(expired)

    def _evict_and_reform(self, g: Group, now: float) -> bool:
        if self._evict_expired(g, now):
            if g.formed:
                g.to_form()
            return True
        return False

    def list_groups(self) -> list[dict[str, Any]]:
        """ListGroups: every known group with its state and protocol —
        the admin-side introspection surface."""
        return [
            {
                "group_id": gid,
                "state": "Formed" if g.formed else "Forming",
                "protocol_type": g.protocol_type,
                "n_members": len(g.members),
            }
            for gid, g in sorted(self._groups.items())
        ]

    def delete_groups(self, group_ids: list[str]) -> list[tuple[str, ErrorCode]]:
        """DeleteGroups: a group is deletable only when it has no live
        members (Kafka's GROUP_NOT_EMPTY contract — members must leave
        or time out first); deleting removes the coordinator document
        and the group's committed offsets."""
        import os

        out: list[tuple[str, ErrorCode]] = []
        with self._lock():
            for gid in group_ids:
                g = self._groups.get(gid)
                on_disk = os.path.exists(self._path(gid))
                if g is None and not on_disk:
                    out.append((gid, ErrorCode.GROUP_ID_NOT_FOUND))
                    continue
                if g is not None and g.members:
                    out.append((gid, ErrorCode.NON_EMPTY_GROUP))
                    continue
                self._groups.pop(gid, None)
                if on_disk:
                    os.remove(self._path(gid))
                cursor = os.path.join(self.broker.root, "groups", f"{gid}.json")
                if os.path.exists(cursor):
                    os.remove(cursor)
                out.append((gid, ErrorCode.NONE))
        return out

    def describe(self, group_id: str) -> dict[str, Any]:
        g = self._peek(group_id)
        if g is None:
            # Kafka DescribeGroups on an unknown group: state Dead,
            # nothing materialized.
            return {
                "state": "Dead",
                "generation_id": -1,
                "protocol_type": None,
                "protocol_name": None,
                "leader": None,
                "members": [],
            }
        return {
            "state": "Formed" if g.formed else "Forming",
            "generation_id": g.generation_id,
            "protocol_type": g.protocol_type,
            "protocol_name": g.protocol_name,
            "leader": g.leader,
            "members": sorted(g.members),
        }

    # ----------------------------------------------------------------- join
    def join(
        self,
        group_id: str,
        member_id: str = "",
        protocol_type: str = "consumer",
        protocols: list[tuple[str, bytes]] | None = None,
        session_timeout_ms: int = 45_000,
        rebalance_timeout_ms: int | None = None,
        group_instance_id: str | None = None,
        client_id: str | None = None,
        now: float | None = None,
    ) -> dict[str, Any]:
        M.add("coordinator_requests", method="join")
        now = time.time() if now is None else now
        with self._lock():
            g = self._group(group_id)
            if group_instance_id is None:
                # dynamic joins run the eviction sweep first
                if mid := member_id:
                    if mid in g.members:
                        g.members[mid].last_contact = now
                self._evict_and_reform(g, now)

            if protocols is None:
                return self._join_resp(g, ErrorCode.INVALID_REQUEST, "")

            if g.protocol_name is not None:
                chosen = next(
                    (p for p in protocols if p[0] == g.protocol_name), None
                )
                if chosen is None:
                    return self._join_resp(
                        g, ErrorCode.INCONSISTENT_GROUP_PROTOCOL, ""
                    )
            else:
                g.protocol_type = protocol_type
                g.protocol_name = protocols[0][0]
                g.session_timeout_ms = session_timeout_ms
                g.rebalance_timeout_ms = rebalance_timeout_ms
                chosen = protocols[0]

            if not member_id and group_instance_id is None:
                # Two-step join: assign an id, pre-register, demand re-join.
                new_id = f"{client_id}-{uuidlib.uuid4()}" if client_id else str(uuidlib.uuid4())
                g.members[new_id] = Member(new_id, None, chosen[1], now)
                if g.formed:
                    g.to_form()
                self._save(group_id, g)
                return self._join_resp(
                    g, ErrorCode.MEMBER_ID_REQUIRED, new_id, generation=-1
                )

            if group_instance_id is not None and not member_id:
                existing = next(
                    (
                        m.member_id
                        for m in g.members.values()
                        if m.group_instance_id == group_instance_id
                    ),
                    None,
                )
                member_id = existing or f"{group_instance_id}-{uuidlib.uuid4()}"

            known = member_id in g.members
            same_meta = known and g.members[member_id].metadata == chosen[1]
            if known:
                g.members[member_id].metadata = chosen[1]
                g.members[member_id].last_contact = now
            else:
                g.members[member_id] = Member(
                    member_id, group_instance_id, chosen[1], now
                )
            if g.leader is None:
                g.leader = member_id

            if g.formed and not (known and same_meta):
                # membership/metadata changed: re-form; static ("soft")
                # metadata updates keep the generation
                if known and group_instance_id is not None:
                    g.formed = False
                    g.assignments = {}
                else:
                    g.to_form()
            self._save(group_id, g)
            return self._join_resp(g, ErrorCode.NONE, member_id)

    def _join_resp(
        self, g: Group, error: ErrorCode, member_id: str, generation: int | None = None
    ) -> dict[str, Any]:
        is_leader = bool(member_id) and g.leader == member_id
        return {
            "error": error,
            "generation_id": g.generation_id if generation is None else generation,
            "protocol_type": g.protocol_type,
            "protocol_name": g.protocol_name,
            "leader": g.leader or "",
            "member_id": member_id,
            "members": (
                [
                    {
                        "member_id": m.member_id,
                        "group_instance_id": m.group_instance_id,
                        "metadata": m.metadata,
                    }
                    for m in g.members.values()
                ]
                if is_leader and error is ErrorCode.NONE
                else []
            ),
        }

    # ----------------------------------------------------------------- sync
    def sync(
        self,
        group_id: str,
        generation_id: int,
        member_id: str,
        assignments: dict[str, bytes] | None = None,
        now: float | None = None,
    ) -> dict[str, Any]:
        M.add("coordinator_requests", method="sync")
        now = time.time() if now is None else now
        with self._lock():
            g = self._group(group_id)
            if member_id not in g.members:
                return {"error": ErrorCode.UNKNOWN_MEMBER_ID, "assignment": b""}
            g.members[member_id].last_contact = now
            if generation_id > g.generation_id:
                return {"error": ErrorCode.ILLEGAL_GENERATION, "assignment": b""}
            if generation_id < g.generation_id:
                return {"error": ErrorCode.REBALANCE_IN_PROGRESS, "assignment": b""}

            if g.formed:
                return {
                    "error": ErrorCode.NONE,
                    "assignment": g.assignments.get(member_id, b""),
                }

            # Forming: only the leader with assignments covering exactly
            # the current member set completes the rebalance.
            if (
                g.leader != member_id
                or assignments is None
                or set(assignments) != set(g.members)
            ):
                return {"error": ErrorCode.REBALANCE_IN_PROGRESS, "assignment": b""}
            g.formed = True
            g.leader = member_id
            g.assignments = dict(assignments)
            self._save(group_id, g)
            return {
                "error": ErrorCode.NONE,
                "assignment": g.assignments.get(member_id, b""),
            }

    # ------------------------------------------------------------ heartbeat
    def heartbeat(
        self,
        group_id: str,
        generation_id: int,
        member_id: str,
        now: float | None = None,
    ) -> ErrorCode:
        M.add("coordinator_requests", method="heartbeat")
        now = time.time() if now is None else now
        with self._lock():
            g = self._peek(group_id)
            if g is None:
                return ErrorCode.UNKNOWN_MEMBER_ID
            if member_id not in g.members:
                return ErrorCode.UNKNOWN_MEMBER_ID
            if generation_id > g.generation_id:
                return ErrorCode.ILLEGAL_GENERATION
            g.members[member_id].last_contact = now
            reformed = self._evict_and_reform(g, now)
            if reformed:
                self._save(group_id, g)
            if reformed or generation_id < g.generation_id:
                return ErrorCode.REBALANCE_IN_PROGRESS
            return ErrorCode.NONE

    # ---------------------------------------------------------------- leave
    def leave(
        self,
        group_id: str,
        member_id: str | None = None,
        members: list[str] | None = None,
    ) -> list[tuple[str, ErrorCode]]:
        M.add("coordinator_requests", method="leave")
        ids = [member_id] if member_id is not None else list(members or [])
        with self._lock():
            g = self._peek(group_id)
            if g is None:
                return [(mid, ErrorCode.UNKNOWN_MEMBER_ID) for mid in ids]
            out: list[tuple[str, ErrorCode]] = []
            removed = False
            for mid in ids:
                if mid in g.members:
                    del g.members[mid]
                    removed = True
                    out.append((mid, ErrorCode.NONE))
                else:
                    out.append((mid, ErrorCode.UNKNOWN_MEMBER_ID))
            if removed:
                if g.formed:
                    if g.leader not in g.members:
                        g.leader = None
                    g.to_form()
                else:
                    if g.leader not in g.members:
                        g.leader = None
                    g.generation_id += 1
                self._save(group_id, g)
            return out

    # ------------------------------------------------------- client-side dance
    def run_rebalance(
        self,
        group_id: str,
        subscriptions: dict[str, list[str]],
        protocol: str = "range",
        now: float | None = None,
    ) -> dict[str, dict[str, list[int]]]:
        """Drive the COMPLETE group dance for a set of consumers — the
        client-side loop every Kafka consumer embeds, composed from this
        coordinator's primitives: two-step joins for every member, leader
        election, the leader running the negotiated assignor
        (``assignor.ASSIGNORS[protocol]``) over the subscribed topics'
        partition counts, leader sync completing the rebalance, and
        follower syncs collecting their assignments. Returns
        client-name → topic → partitions.

        Assignment metadata travels as the serialized subscription list
        (the MemberMetadata role); partition counts come from the broker
        catalog."""
        import json as _json

        from tansu_spark.broker.assignor import ASSIGNORS

        now = time.time() if now is None else now
        assign_fn = ASSIGNORS[protocol]
        member_of: dict[str, str] = {}
        for client, topics in sorted(subscriptions.items()):
            meta = _json.dumps(sorted(topics)).encode()
            first = self.join(
                group_id,
                protocols=[(protocol, meta)],
                client_id=client,
                now=now,
            )
            if first["error"] is ErrorCode.MEMBER_ID_REQUIRED:
                first = self.join(
                    group_id,
                    member_id=first["member_id"],
                    protocols=[(protocol, meta)],
                    now=now,
                )
            assert first["error"] is ErrorCode.NONE, first["error"]
            member_of[client] = first["member_id"]

        # the leader re-joins last so its roster is complete
        leader_client = next(
            c for c, m in member_of.items() if self._group(group_id).leader == m
        )
        roster = self.join(
            group_id,
            member_id=member_of[leader_client],
            protocols=[(protocol, _json.dumps(sorted(subscriptions[leader_client])).encode())],
            now=now,
        )
        gen = roster["generation_id"]
        member_subs = {
            m["member_id"]: _json.loads(m["metadata"]) for m in roster["members"]
        }
        topics = sorted({t for ts in member_subs.values() for t in ts})
        partitions = {t: self.broker.describe_topic(t).partitions for t in topics}
        assignment = assign_fn(member_subs, partitions)
        encoded = {m: _json.dumps(a, sort_keys=True).encode() for m, a in assignment.items()}

        lead_sync = self.sync(
            group_id, gen, member_of[leader_client], encoded, now=now
        )
        assert lead_sync["error"] is ErrorCode.NONE, lead_sync["error"]
        out: dict[str, dict[str, list[int]]] = {}
        for client, mid in member_of.items():
            got = self.sync(group_id, gen, mid, now=now)
            assert got["error"] is ErrorCode.NONE, got["error"]
            out[client] = _json.loads(got["assignment"] or b"{}")
        return out

    # -------------------------------------------------------------- offsets
    def offset_commit(
        self,
        group_id: str,
        offsets: dict[tuple[str, int], int],
        generation_id: int = -1,
        member_id: str = "",
        now: float | None = None,
    ) -> ErrorCode:
        """Generation-fenced offset commit (offset_commit_fence,
        administrator.rs:1804-1843), landing in the broker's durable
        cursor store on success."""
        M.add("coordinator_requests", method="offset_commit")
        now = time.time() if now is None else now
        with self._lock():
            g = self._group(group_id)
            if generation_id < 0 and not member_id:
                if g.members:
                    return ErrorCode.UNKNOWN_MEMBER_ID
            else:
                m = g.members.get(member_id)
                if m is None:
                    return ErrorCode.UNKNOWN_MEMBER_ID
                m.last_contact = now
                if generation_id > g.generation_id or (
                    g.formed and generation_id != g.generation_id
                ):
                    return ErrorCode.ILLEGAL_GENERATION
        self.broker.commit_offsets(group_id, offsets)
        return ErrorCode.NONE

    def offset_fetch(self, group_id: str, topic: str) -> dict[int, int]:
        M.add("coordinator_requests", method="offset_fetch")
        return self.broker.fetch_offsets(group_id, topic)

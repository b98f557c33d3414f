"""Replication options: the START_REPLICATION option set as engine config.

The reference assembles and validates the logical-decoding option string
(`build_start_replication_sql`, /root/reference/src/sql_builder.rs:380-407;
option assembly + validation /root/reference/src/stream.rs:1377-1446):
``proto_version``, ``publication_names``, ``streaming``, ``messages``,
``binary``, ``two_phase``, ``origin``. In the replay engine there is no wire
command to build — the SAME options instead select decoder/engine behavior:

- ``protocol_version`` → parser/kernel version (xid prefixes, v4 abort
  fields); ``streaming``/``two_phase`` require the versions that introduced
  them (v2 / v3), mirroring the reference's validation;
- ``messages`` → rendered into START_REPLICATION (``to_option_string``)
  so the server sends or withholds MESSAGE frames; the engine applies
  committed DML only, so a MESSAGE never reaches a lake table either way;
- ``binary`` → binary-mode tuple values accepted ('b' kind → bytea hex);
- ``origin`` → 'none' filters foreign-origin transactions (operators.raw.
  filter_origin), 'any' passes them through;
- ``publication_names`` → informational here (fixtures are pre-filtered,
  the replica's publication does the server-side filtering in production).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ReplicationOptions:
    protocol_version: int = 2
    publication_names: tuple[str, ...] = ("pub",)
    streaming: str = "off"          # off | on | parallel
    messages: bool = True
    binary: bool = False
    two_phase: bool = False
    origin: str = "any"             # none | any
    extra: dict = field(default_factory=dict, compare=False)

    def validate(self) -> "ReplicationOptions":
        """The reference's option/version cross-checks
        (/root/reference/src/stream.rs:1377-1446)."""
        if self.protocol_version not in (1, 2, 3, 4):
            raise ValueError(
                f"protocol_version must be 1-4, got {self.protocol_version}"
            )
        if self.streaming not in ("off", "on", "parallel"):
            raise ValueError(f"streaming must be off|on|parallel: {self.streaming}")
        if self.streaming == "on" and self.protocol_version < 2:
            raise ValueError("streaming 'on' requires protocol_version >= 2")
        if self.streaming == "parallel" and self.protocol_version < 4:
            raise ValueError(
                "streaming 'parallel' requires protocol_version >= 4"
            )
        if self.two_phase and self.protocol_version < 3:
            raise ValueError("two_phase requires protocol_version >= 3")
        if self.origin not in ("none", "any"):
            raise ValueError(f"origin must be none|any: {self.origin}")
        if not self.publication_names:
            raise ValueError("at least one publication name is required")
        return self

    def to_option_string(self) -> str:
        """The option list exactly as the reference renders it into
        START_REPLICATION (sql_builder.rs:380-407) — kept for parity tests
        and for anyone pointing a real replication connection at the same
        config."""
        self.validate()
        pubs = ", ".join('"' + p.replace('"', '""') + '"'
                         for p in self.publication_names)
        parts = [f"proto_version '{self.protocol_version}'",
                 f"publication_names '{pubs}'"]
        if self.streaming != "off":
            parts.append(f"streaming '{self.streaming}'")
        if self.messages:
            parts.append("messages 'on'")
        if self.binary:
            parts.append("binary 'on'")
        if self.two_phase:
            parts.append("two_phase 'on'")
        if self.origin != "any":
            parts.append(f"origin '{self.origin}'")
        return "(" + ", ".join(parts) + ")"

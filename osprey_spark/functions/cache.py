"""Per-key TTL'd K/V cache UDFs (CacheSet*/CacheGet*).

ref: example_plugins/src/udfs/cache.py:246-331 — Redis SET/GET with
TTL, gated on ``when_all``. The batch/streaming translation: a
CacheGet reads the most recent CacheSet *value for the same key* whose
event time lies within the set's TTL window, judged at the reading
row's event time — an event-time range window partitioned by the key
expression (one shuffle per distinct key expression; Catalyst shares
window frames between Get/Set pairs on the same key).

Pairing: Set and Get match by runtime key VALUE (Redis semantics) —
any Set statement of the same value family whose key evaluates to the
Get's key feeds the lookup, including Sets written under a different
key expression. Overwrite semantics are Redis-exact: the latest Set
for a key wins, and if that latest Set's TTL has lapsed the key is
gone (an older longer-TTL Set does NOT resurface). A Get in a program
with no Set of its family is a validation error (the reference would
silently read another rule file's writes through shared Redis —
cross-program state needs the label store or the streaming state ops
instead, documented divergence). A row's own set IS visible to its
own get (same-timestamp rows share the window frame), matching the
reference's in-action sequencing when the set statement precedes the
get.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..compiler.families import defer_state_op
from ..compiler.values import Value
from .registry import arg, register, when_all_gate, whole_seconds

DAY = 86400.0


def _cache_set(ctx, call, args, family: str):
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    ttl = whole_seconds(ctx, call, args, "ttl_seconds", default=DAY)
    gate = when_all_gate(ctx, call, args)
    ctx.cache_sets.append(
        {
            "family": family,
            "key_repr": str(key_v.col),
            "key_col": key_v.col,
            "value_col": value_v.col,
            "gate": gate,
            "ttl": float(ttl),
            "idx": len(ctx.cache_sets),
        }
    )
    return Value(col=F.lit(None), dtype="none")


def _cache_get(ctx, call, args, family: str, default, out_dtype: str, cast: str):
    """Registers a deferred key-VALUE join resolved by
    ``CompiledRuleset.apply`` (same mechanism as HasLabel): a Get
    reads the latest non-expired Set *for the same runtime key value*
    across every Set statement of the family — exactly the Redis
    pairing, including overwrite semantics (a newer Set shadows an
    older one even if the newer one's TTL has since lapsed)."""
    key_v = arg(ctx, call, args, "key")
    d = args.get("default")
    default_col = d.col if d is not None else F.lit(default)
    gate = when_all_gate(ctx, call, args)
    sets = [s for s in ctx.cache_sets if s["family"] == family]
    if not sets:
        raise ctx.error(
            f"{call.func}: no preceding CacheSet{family} in this program "
            "(cross-program cache state is not supported — use labels or "
            "streaming state)",
            call.span,
        )
    return defer_state_op(
        ctx, "cache", out_dtype,
        key_col=key_v.col,
        default_col=default_col,
        gate=gate,
        cast=cast,
        sets=list(sets),
    )


@register("CacheSetStr")
def cache_set_str(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:278-284."""
    return _cache_set(ctx, call, args, "Str")


@register("CacheSetInt")
def cache_set_int(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:287-293."""
    return _cache_set(ctx, call, args, "Int")


@register("CacheSetFloat")
def cache_set_float(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:296-302."""
    return _cache_set(ctx, call, args, "Float")


@register("CacheGetStr")
def cache_get_str(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:305-311."""
    return _cache_get(ctx, call, args, "Str", "", "str", "string")


@register("CacheGetInt")
def cache_get_int(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:314-320."""
    return _cache_get(ctx, call, args, "Int", 0, "int", "long")


@register("CacheGetFloat")
def cache_get_float(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:323-329."""
    return _cache_get(ctx, call, args, "Float", 0.0, "float", "double")

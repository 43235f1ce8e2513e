"""UDF registry + argument helpers.

Parity with the reference's registry of ``UDFBase[Arguments, RValue]``
classes (ref: engine/udf/base.py, engine/udf/registry.py): keyword-only
calls, ``ConstExpr`` arguments resolved at compile time
(ref: engine/udf/arguments.py:24-110).
"""

from __future__ import annotations

from typing import Any, Callable, Optional

from ..compiler import nullsafe
from ..compiler.values import Value
from ..sml.nodes import Call, ListLiteral

CompileFn = Callable[..., Value]

REGISTRY: dict[str, CompileFn] = {}
QUERY_REGISTRY: dict[str, CompileFn] = {}


class TrackedArgs(dict):
    """Compiled-kwargs dict that records which names a UDF compile fn
    consumed, so the compiler can reject unexpected keyword arguments
    afterwards (ref: ast_validator/validators/validate_call_kwargs.py —
    the reference validates every Call against its UDF's Arguments
    class; here consumption IS the signature)."""

    def __init__(self, d):
        super().__init__(d)
        self.accessed: set = set()

    def mark(self, name: str) -> None:
        self.accessed.add(name)

    def get(self, name, default=None):
        self.accessed.add(name)
        return super().get(name, default)

    def __getitem__(self, name):
        self.accessed.add(name)
        return super().__getitem__(name)

    def __contains__(self, name):
        self.accessed.add(name)
        return super().__contains__(name)


def register(name: str, query: bool = False):
    def deco(fn: CompileFn) -> CompileFn:
        REGISTRY[name] = fn
        if query:
            QUERY_REGISTRY[name] = fn
        return fn

    return deco


def register_query(name: str):
    """Query-language-only UDFs (ref: engine/query_language/udfs/)."""

    def deco(fn: CompileFn) -> CompileFn:
        QUERY_REGISTRY[name] = fn
        return fn

    return deco


def arg(ctx, call: Call, args: dict[str, Value], name: str, required: bool = True) -> Optional[Value]:
    v = args.get(name)
    if v is None and required:
        raise ctx.error(f"{call.func} requires argument {name}=", call.span)
    return v


def const_arg(
    ctx, call: Call, args: dict[str, Value], name: str, required: bool = True, default: Any = None
) -> Any:
    """A ConstExpr argument — must be a compile-time constant
    (ref: engine/udf/arguments.py:24-110)."""
    v = args.get(name)
    if v is None:
        if required:
            raise ctx.error(f"{call.func} requires constant argument {name}=", call.span)
        return default
    if not v.is_const:
        raise ctx.error(f"{call.func} argument {name}= must be a constant", call.span)
    return v.const


def raw_arg(ctx, call: Call, args: dict[str, Value], name: str):
    """Read a kwarg's raw AST node (for strict-list / lazy / gating
    semantics the compiled Value can't carry), marking it consumed for
    unexpected-kwarg validation."""
    if isinstance(args, TrackedArgs):
        args.mark(name)
    return call.kwargs.get(name)


def const_str_list(ctx, call: Call, name: str, args: Optional[dict] = None) -> list[str]:
    """A ConstExpr[List[str]] argument, read from the raw AST."""
    from ..sml.nodes import ListLiteral, Literal

    if isinstance(args, TrackedArgs):
        args.mark(name)
    node = call.kwargs.get(name)
    if not isinstance(node, ListLiteral):
        raise ctx.error(f"{call.func} requires {name}=[...literals...]", call.span)
    out = []
    for item in node.items:
        if not isinstance(item, Literal) or not isinstance(item.value, str):
            raise ctx.error(f"{call.func} {name}= items must be string literals", call.span)
        out.append(item.value)
    return out


def when_all_gate(ctx, call: Call, args: dict[str, Value]):
    """The optional ``when_all=[...]`` gate of a stateful call: the
    strict (NULL → False) conjunction of its conditions, or None when
    the argument is absent or empty (every event passes)."""
    node = raw_arg(ctx, call, args, "when_all")
    if node is None:
        return None
    if not isinstance(node, ListLiteral):
        raise ctx.error(f"{call.func} when_all= must be a list", call.span)
    conds = [ctx.compile_expr(e) for e in node.items]
    return nullsafe.strict_all(conds) if conds else None


def whole_seconds(
    ctx, call: Call, args: dict[str, Value], name: str, default: Any = None
) -> Any:
    """A constant ``*_seconds`` argument of an event-time state op,
    required unless ``default`` is given; it must be >= 1 because
    event time has whole-second resolution."""
    v = const_arg(ctx, call, args, name, required=default is None, default=default)
    if float(v) < 1.0:
        raise ctx.error(
            f"{call.func}: {name} must be >= 1 (event time has whole-second "
            f"resolution), got {v}",
            call.span,
        )
    return v

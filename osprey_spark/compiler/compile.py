"""The SML → Spark ``Column`` compiler.

Replaces the reference pipeline
``validate_sources → compile_execution_graph → per-action execute``
(ref: engine/ast_validator/, engine/executor/execution_graph.py:111-149,
engine/executor/executor.py:308-417) with a single compile pass that
emits one Spark Column per feature. The compiled ruleset is a plain
DataFrame transformation — Catalyst handles subexpression reuse,
constant folding, and codegen, so there is no runtime interpreter.

Statement-level UDFs handled here rather than in the registry:

- ``Import(rules=[...])`` — inline file merge, dedup + cycle check
  (ref: stdlib/udfs/import_.py:17-82, ast_validator/validators/
  imports_must_not_have_cycles.py).
- ``Require(rule=…, require_if=…)`` — conditional file inclusion;
  compiles the target file with every feature/effect masked by the
  guard predicate (ref: stdlib/udfs/require.py:14-57). An f-string
  rule path (dynamic dispatch by a feature such as ActionName) is
  expanded at compile time over all matching source files, each
  guarded by equality on the interpolated feature.
- ``WhenRules(rules_any=[...], then=[...])`` — effect trigger
  (ref: stdlib/udfs/rules.py:120-166).
"""

from __future__ import annotations

import posixpath
import re as _re_mod
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sml.errors import SmlValidationError
from ..sml.nodes import (
    Annotation,
    Assign,
    Attribute,
    BinaryComparison,
    BinaryOperation,
    BooleanOperation,
    Call,
    Expr,
    ExprStatement,
    FormatString,
    ListLiteral,
    Literal,
    Name,
    Program,
    Span,
    UnaryOperation,
)
from ..sml.parser import parse_program
from . import nullsafe
from .families import (
    FAMILIES,
    ROW_ID,
    cache_result,
    cache_union,
    op_identities,
    op_states,
    segments,
    spec_columns,
    stable_node,
)
from .values import Effect, Value, const_value

if TYPE_CHECKING:
    from ..streaming.buckets import BucketLayout

# Reserved output feature names
# (ref: engine/executor/custom_extracted_features.py:54-91,
#  engine/shared_constants.py:7-8).
ACTION_ID = "__action_id"
SAMPLE_RATE = "__sample_rate"

# Enum constants resolvable via attribute access (Foo.Bar). Seeded
# with the reference's public enums (worker/lib/osprey_shared/
# labels.py:41-55 LabelStatus, stdlib/udfs/experiments.py:34-35
# ExperimentsVersion); host applications extend via register_enum.
ENUM_CONSTANTS: dict[str, dict[str, object]] = {
    "LabelStatus": {
        "REMOVED": "removed",
        "ADDED": "added",
        "MANUALLY_REMOVED": "manually_removed",
        "MANUALLY_ADDED": "manually_added",
    },
    "ExperimentsVersion": {"v1": "v1"},
}


def register_enum(name: str, members: dict[str, object]) -> None:
    ENUM_CONSTANTS[name] = dict(members)
TIMESTAMP = "__timestamp"
ERROR_COUNT = "__error_count"
VERDICTS = "__verdicts"
LABEL_MUTATIONS = "__entity_label_mutations"
# engine extension: typed label-effect rows for the stateful layer
LABEL_EFFECTS = "__label_effects"

LABEL_EFFECT_SCHEMA = (
    "array<struct<entity_type:string,entity_id:string,label:string,"
    "status:string,expires_after:double>>"
)


_UNRESOLVED_ATTR_RE = _re_mod.compile(r"UnresolvedAttribute\(\w*\(([^)]*)\)")
_MANGLED_TOKEN_RE = _re_mod.compile(r"__(?:f|wc|cache|lbl)_\w+")


def _column_refs(col: Column) -> set:
    """Names an unresolved Column references: UnresolvedAttribute
    entries from the column-node tree string, plus every mangled
    feature token anywhere in it (covers SQL-string-built columns,
    where the node is an opaque SqlExpression). Conservative
    over-capture is harmless — callers intersect with known names."""
    s = col._jc.node().toString()
    refs = {
        m.group(1).split(",")[0].strip()
        for m in _UNRESOLVED_ATTR_RE.finditer(s)
    }
    refs |= set(_MANGLED_TOKEN_RE.findall(s))
    refs.discard("")
    return refs


@dataclass
class InputBindings:
    """How SML's implicit inputs map onto input DataFrame columns.

    The reference's ``Action`` fields
    (ref: engine/executor/execution_context.py:296-332) map to:
    ``data`` → a JSON string column (JsonData paths resolve into it),
    ``action_name`` → string column, ``timestamp`` → event-time
    column, ``action_id`` → int64 column (or None → derived).
    """

    data: str = "data"
    action_name: str = "action_name"
    timestamp: str = "ts"
    action_id: Optional[str] = "action_id"
    # Struct-backed fast path: when the action payload also exists as
    # typed top-level columns (the transcripts table), map JSON field →
    # column name here and simple ``$.field`` JsonData paths compile to
    # direct column references — no to_json/get_json_object roundtrip.
    # Catalyst then prunes the JSON envelope column away entirely.
    data_fields: Optional[dict[str, str]] = None


_SPARK_TYPE = {"str": "string", "int": "long", "float": "double", "bool": "boolean"}


def annotation_dtype(ann: Optional[Annotation]) -> str:
    if ann is None:
        return "any"
    base = ann.base
    if base in ("Optional", "ExtractLiteral", "Secret", "ExtractSecret"):
        return annotation_dtype(ann.arg)
    if base == "List":
        return f"list:{annotation_dtype(ann.arg)}"
    if base == "Entity":
        return "entity"
    if base in ("str", "int", "float", "bool"):
        return base
    return "any"


@dataclass
class _FileScope:
    path: str
    locals: dict[str, Value] = field(default_factory=dict)
    # NoUnusedLocals lint state (ref: ast_validator/validators/
    # no_unused_locals.py): first-store span per local + load marks
    local_spans: dict[str, Span] = field(default_factory=dict)
    local_loads: set = field(default_factory=set)


class CompilerContext:
    def __init__(
        self,
        sources: dict[str, str],
        bindings: InputBindings,
        registry: dict[str, Callable],
        labels_config=None,
    ):
        self.sources = sources
        self.bindings = bindings
        self.registry = registry
        # Optional LabelsConfig (labels.yaml stand-in): when present,
        # LabelAdd/LabelRemove/HasLabel label names and entity types
        # are validated at compile time (ref: validate_labels.py:36-85)
        self.labels_config = labels_config
        self.features: dict[str, Value] = {}
        self.extracted: list[str] = []  # extraction order
        # Ordered (column_name, defining Column) pairs. Every non-const
        # feature is materialized as a projection column and all uses
        # reference it by name — keeps the logical plan linear in the
        # program size instead of exponential (the reference gets the
        # same evaluate-once sharing from its named dataflow nodes,
        # ref: engine/executor/execution_graph.py:90-93).
        self.feature_exprs: list[tuple[str, Column]] = []
        # HasLabel lookups: mangled column name → join spec, resolved
        # by CompiledRuleset.apply against a label snapshot (the
        # reference batches label fetches by entity routing key,
        # ref: stdlib/udfs/labels.py:242-293)
        self.label_lookups: list[dict] = []
        # Stateful calls (IncrementWindow, SequenceMatches, CacheGet*
        # ...): mangled name → (family, spec), registered in call
        # order by ``families.defer_state_op``
        self.state_ops: dict[str, tuple[str, dict]] = {}
        # registration-time pairing: IncrementWindow gates for
        # GetWindowCount, CacheSet* statements for CacheGet*
        self.window_increments: list[dict] = []
        self.cache_sets: list[dict] = []
        # required-JsonData miss indicators for ``__error_count``
        self.error_indicators: list[Column] = []
        self.verdict_conditions: list[tuple[Column, str]] = []
        self.label_effects: list[dict] = []
        # AtprotoList-class effects → the 'atproto_list' custom
        # extracted feature (ref: example_plugins/src/udfs/atproto/
        # list.py:40-49 serializes fired effects as 'did|list_uri')
        self.list_effects: list[tuple[Column, Column]] = []
        self.rule_descriptions: dict[str, Column] = {}
        self._compiled_paths: set[str] = set()
        self._compiling_stack: list[str] = []
        self._guard: Optional[Value] = None
        self._scopes: list[_FileScope] = []
        self.current_annotation: Optional[Annotation] = None

    # -- errors --------------------------------------------------------
    def error(self, msg: str, span: Span) -> SmlValidationError:
        return SmlValidationError(msg, span.source, span.line, span.col)

    def validate_label(
        self, label: str, entity_type: Optional[str], span: Span
    ) -> None:
        """Compile-time label validation against the registered config
        (ref: validate_labels.py:46-85): unknown label → error with a
        closest-match hint; entity type outside the label's valid_for
        list → error listing the valid types. No-op without a config —
        a typo'd label would otherwise silently return False forever."""
        if self.labels_config is None:
            return
        from .labels_config import closest_within_threshold

        info = self.labels_config.labels.get(label)
        if info is None:
            hint = f"there is no `{label}` label in the config"
            closest = closest_within_threshold(label, self.labels_config.labels)
            if closest is not None:
                hint += f", did you mean `{closest}`?"
            raise self.error(f"unknown label: {hint}", span)
        if entity_type is not None and entity_type not in info.valid_for:
            valid = ", ".join(f"`{t}`" for t in info.valid_for) or "(none)"
            raise self.error(
                f"label `{label}` is not valid for this entity type: entity "
                f"has type `{entity_type}`, this label is valid for {valid}",
                span,
            )

    # -- name scoping ----------------------------------------------------
    def lookup(self, node: Name) -> Value:
        if node.is_local:
            for scope in reversed(self._scopes):
                if node.identifier in scope.locals:
                    scope.local_loads.add(node.identifier)
                    return scope.locals[node.identifier]
            raise self.error(f"undefined local {node.identifier}", node.span)
        if node.identifier in self.features:
            return self.features[node.identifier]
        raise self.error(f"undefined name {node.identifier}", node.span)

    def assign(self, stmt: Assign, value: Value) -> None:
        if stmt.name.startswith("_"):
            scope = self._scopes[-1]
            scope.locals[stmt.name] = value
            scope.local_spans.setdefault(stmt.name, stmt.span)
            return
        if stmt.name in self.features:
            # UniqueStoredNames validator parity
            raise self.error(f"duplicate feature name {stmt.name}", stmt.span)
        if not value.is_const and value.dtype != "effect":
            # materialize + rebind to a reference (mangled to keep the
            # feature namespace disjoint from input columns)
            mangled = f"__f_{stmt.name}"
            self.feature_exprs.append((mangled, value.col))
            value = Value(
                col=F.col(mangled),
                dtype=value.dtype,
                entity_type=value.entity_type,
                rule_name=value.rule_name,
                effect=value.effect,
            )
        self.features[stmt.name] = value
        if stmt.should_extract:
            self.extracted.append(stmt.name)

    # -- guards ----------------------------------------------------------
    def guarded(self, col: Column) -> Column:
        if self._guard is None:
            return col
        return F.when(self._guard.col, col)

    def effect_condition(self, cond: Column) -> Column:
        if self._guard is None:
            return cond
        return nullsafe.truthy(self._guard) & cond

    # -- file compilation --------------------------------------------------
    def compile_path(self, path: str, span: Span, guard: Optional[Value] = None) -> None:
        path = posixpath.normpath(path)
        if path in self._compiling_stack:
            cycle = " -> ".join(self._compiling_stack + [path])
            raise self.error(f"import cycle: {cycle}", span)
        if path in self._compiled_paths:
            return
        text = self.sources.get(path)
        if text is None:
            raise self.error(f"no such rule source: {path}", span)
        program = parse_program(text, path)
        self._compiling_stack.append(path)
        prev_guard = self._guard
        if guard is not None:
            if prev_guard is not None:
                combined = nullsafe.truthy(prev_guard) & nullsafe.truthy(guard)
                self._guard = Value(col=combined, dtype="bool")
            else:
                self._guard = guard
        self._scopes.append(_FileScope(path=path))
        try:
            for stmt in program.statements:
                self._compile_statement(stmt)
            # NoUnusedLocals (ref: no_unused_locals.py:10-36): a local
            # that is stored but never loaded has no effect — error
            scope = self._scopes[-1]
            for lname, lspan in scope.local_spans.items():
                if lname not in scope.local_loads:
                    raise self.error(
                        f"unused local variable: `{lname}` — this variable is "
                        "not used anywhere, and thus has no effect. either "
                        "delete or comment it out",
                        lspan,
                    )
            self._compiled_paths.add(path)
        finally:
            self._scopes.pop()
            self._guard = prev_guard
            self._compiling_stack.pop()

    # -- statements --------------------------------------------------------
    def _compile_statement(self, stmt) -> None:
        if isinstance(stmt, Assign):
            self.current_annotation = stmt.annotation
            try:
                value = self.compile_expr(stmt.value)
            finally:
                self.current_annotation = None
            if self._guard is not None and not isinstance(stmt.value, Literal):
                value = Value(
                    col=self.guarded(value.col),
                    dtype=value.dtype,
                    entity_type=value.entity_type,
                    rule_name=value.rule_name,
                )
            if value.dtype == "rule":
                value.rule_name = stmt.name
                if id(value) in self.rule_descriptions:
                    self.rule_descriptions[stmt.name] = self.rule_descriptions.pop(id(value))
            self.assign(stmt, value)
            return
        if isinstance(stmt, ExprStatement):
            call = stmt.call
            if call.func == "__doc__":
                return
            if call.func == "Import":
                self._stmt_import(call)
                return
            if call.func == "Require":
                self._stmt_require(call)
                return
            if call.func == "WhenRules":
                self._stmt_when_rules(call)
                return
            # statement-level UDFs returning None (CacheSet* family —
            # they record state writes in the context, producing no
            # feature; ref: example_plugins/src/udfs/cache.py:278-302)
            fn = self.registry.get(call.func)
            if fn is not None:
                from ..functions.registry import TrackedArgs

                args = TrackedArgs({k: self.compile_expr(e) for k, e in call.kwargs.items()
                                    if k != "when_all"})
                v = fn(self, call, args)
                if v.dtype == "none":
                    self._reject_unconsumed_kwargs(call, args)
                    return
            # other bare effect calls are not meaningful outside WhenRules
            raise self.error(f"{call.func} cannot appear as a bare statement", call.span)
        raise self.error(f"unsupported statement {type(stmt).__name__}", stmt.span)

    def _check_stmt_kwargs(self, call: Call, allowed: set) -> None:
        extra = set(call.kwargs) - allowed
        if extra:
            raise self.error(
                f"{call.func} got unexpected keyword argument(s): "
                + ", ".join(sorted(extra)),
                call.span,
            )

    def _stmt_import(self, call: Call) -> None:
        self._check_stmt_kwargs(call, {"rules"})
        rules = call.kwargs.get("rules")
        if not isinstance(rules, ListLiteral):
            raise self.error("Import(rules=[...]) requires a literal list", call.span)
        paths = []
        for item in rules.items:
            if not isinstance(item, Literal) or not isinstance(item.value, str):
                raise self.error("Import paths must be string literals", call.span)
            paths.append(item.value)
        # the reference sorts import lists for determinism
        # (ref: stdlib/udfs/import_.py:17-82)
        for p in sorted(paths):
            self.compile_path(p, call.span)

    def _stmt_require(self, call: Call) -> None:
        self._check_stmt_kwargs(call, {"rule", "require_if"})
        rule = call.kwargs.get("rule")
        require_if = call.kwargs.get("require_if")
        guard: Optional[Value] = None
        if require_if is not None:
            guard = self.compile_expr(require_if)
        if isinstance(rule, Literal) and isinstance(rule.value, str):
            self.compile_path(rule.value, call.span, guard)
            return
        if isinstance(rule, FormatString):
            # dynamic dispatch: expand over all matching files, each
            # guarded by equality on the interpolated feature
            # (ref: stdlib/udfs/require.py:36-57).
            name_parts = [p for p in rule.parts if isinstance(p, Name)]
            if len(name_parts) != 1:
                raise self.error("Require f-string must interpolate exactly one name", call.span)
            dispatch = self.lookup(name_parts[0])
            prefix = ""
            suffix = ""
            seen_name = False
            for p in rule.parts:
                if isinstance(p, Name):
                    seen_name = True
                elif not seen_name:
                    prefix += p
                else:
                    suffix += p
            for path in sorted(self.sources):
                if path.startswith(prefix) and path.endswith(suffix) and len(path) > len(prefix) + len(suffix):
                    segment = path[len(prefix) : len(path) - len(suffix)]
                    if "/" in segment:
                        continue
                    eq = dispatch.col.eqNullSafe(F.lit(segment))
                    g = Value(col=eq, dtype="bool")
                    if guard is not None:
                        g = Value(col=nullsafe.truthy(guard) & eq, dtype="bool")
                    self.compile_path(path, call.span, g)
            return
        raise self.error("Require(rule=...) must be a string literal or f-string", call.span)

    def _stmt_when_rules(self, call: Call) -> None:
        self._check_stmt_kwargs(call, {"rules_any", "then"})
        rules_any = call.kwargs.get("rules_any")
        then = call.kwargs.get("then")
        if not isinstance(rules_any, ListLiteral) or not isinstance(then, ListLiteral):
            raise self.error("WhenRules requires rules_any=[...] and then=[...]", call.span)
        rule_vals = [self.compile_expr(e) for e in rules_any.items]
        cond = self.effect_condition(nullsafe.lenient_any(rule_vals))
        for e in then.items:
            ev = self.compile_expr(e)
            if ev.dtype != "effect" or ev.effect is None:
                raise self.error("then=[...] items must be effects", call.span)
            self.add_effect(cond, ev.effect, call.span)

    def add_effect(self, cond: Column, eff: Effect, span: Span) -> None:
        if eff.kind == "verdict":
            self.verdict_conditions.append((cond, eff.verdict or ""))
            return
        if eff.kind == "label":
            c = cond
            if eff.apply_if is not None:
                # apply_if failure ⇒ suppressed, fail-closed
                # (ref: stdlib/udfs/labels.py:61-67)
                c = c & nullsafe.truthy(eff.apply_if)
            assert eff.entity is not None
            c = c & eff.entity.col.isNotNull()
            self.label_effects.append(
                {
                    "cond": c,
                    "entity_type": eff.entity.entity_type or "Unknown",
                    "entity_id": eff.entity.col.cast("string"),
                    "label": eff.label or "",
                    "status": eff.status or "added",
                    "expires_after": eff.expires_after_seconds,
                }
            )
            return
        if eff.kind == "list":
            # ref: example_plugins/src/udfs/atproto/list.py:52-62 —
            # the effect carries (did, list_uri); serialization is
            # 'did|list_uri' (to_str, list.py:31-32). A NULL did or
            # uri makes the concat NULL and the entry drops from the
            # array — the Err→no-effect analogue of the reference's
            # raising UDF.
            self.list_effects.append(
                (
                    cond,
                    F.concat(
                        eff.extra["did"], F.lit("|"), eff.extra["list_uri"]
                    ),
                )
            )
            return
        raise self.error(f"unknown effect kind {eff.kind}", span)

    # -- expressions ---------------------------------------------------------
    def compile_expr(self, node: Expr) -> Value:
        if isinstance(node, Literal):
            return const_value(node.value)

        if isinstance(node, ListLiteral):
            items = [self.compile_expr(e) for e in node.items]
            elem = "any"
            for it in items:
                if it.dtype not in ("any", "null"):
                    elem = it.dtype
                    break
            if not items:
                return Value(col=F.array().cast("array<string>"), dtype="list:str", const=[])
            v = Value(col=F.array(*[it.col for it in items]), dtype=f"list:{elem}")
            if all(it.is_const for it in items):
                v.const = [it.const for it in items]
            return v

        if isinstance(node, Name):
            return self.lookup(node)

        if isinstance(node, Attribute):
            # enum-constant access Foo.Bar (ref: ast/grammar.py:734-756
            # parses it; the reference's own validator still rejects
            # attributes — validate_static_types.py:614-616 — so this
            # registry is a strict superset of reference behavior)
            ns = ENUM_CONSTANTS.get(node.base)
            if ns is None or node.attr not in ns:
                raise self.error(
                    f"unknown attribute constant {node.base}.{node.attr}", node.span
                )
            return const_value(ns[node.attr])

        if isinstance(node, FormatString):
            cols: list[Column] = []
            for p in node.parts:
                if isinstance(p, str):
                    cols.append(F.lit(p))
                else:
                    cols.append(self.lookup(p).col.cast("string"))
            return Value(col=F.concat(*cols) if cols else F.lit(""), dtype="str")

        if isinstance(node, BinaryOperation):
            return self._compile_binop(node)

        if isinstance(node, BinaryComparison):
            return self._compile_comparison(node)

        if isinstance(node, BooleanOperation):
            values = [self.compile_expr(v) for v in node.values]
            col = nullsafe.sml_and(values) if node.op == "and" else nullsafe.sml_or(values)
            return Value(col=col, dtype="bool")

        if isinstance(node, UnaryOperation):
            v = self.compile_expr(node.operand)
            if node.op == "not":
                out = Value(col=~v.col.cast("boolean"), dtype="bool")
                if v.is_const:
                    out.const = not v.const
                return out
            if node.op == "-":
                out = Value(col=-v.col, dtype=v.dtype)
                if v.is_const and isinstance(v.const, (int, float)):
                    out.const = -v.const
                return out
            return v

        if isinstance(node, Call):
            return self._compile_call(node)

        raise self.error(f"unsupported expression {type(node).__name__}", node.span)

    def _compile_call(self, node: Call) -> Value:
        fn = self.registry.get(node.func)
        if fn is None:
            raise self.error(f"unknown UDF {node.func}", node.span)
        from ..functions.registry import TrackedArgs

        args = TrackedArgs({k: self.compile_expr(v) for k, v in node.kwargs.items()})
        out = fn(self, node, args)
        self._reject_unconsumed_kwargs(node, args)
        return out

    def _reject_unconsumed_kwargs(self, node: Call, args) -> None:
        """Reject typo'd/unexpected keyword arguments: every kwarg a
        call passes must be consumed by its UDF's compile fn (ref:
        ast_validator/validators/validate_call_kwargs.py — the
        reference errors on kwargs absent from the UDF's Arguments
        class; a silently ignored `statu='added'` is the same bug
        class as an unknown label)."""
        extra = set(node.kwargs) - args.accessed
        if extra:
            raise self.error(
                f"{node.func} got unexpected keyword argument(s): "
                + ", ".join(sorted(extra)),
                node.span,
            )

    def _type_kind(self, dtype: str) -> Optional[str]:
        """Static-type kind for the transition checks (ref:
        validate_static_types.py:722-757 binary-operation transitions,
        :760-782 comparison transitions). ``None`` = unknown/wrapper —
        not checked (the reference's AnyType); timedelta counts as
        numeric (post-exec seconds, ref: language_types/time_delta.py)."""
        if dtype == "str":
            return "str"
        if dtype in ("int", "float", "bool", "timedelta"):
            return "num"
        if dtype.startswith("list"):
            return "list"
        return None

    def _check_op_types(self, node, op: str, lt: str, rt: str, allowed) -> None:
        """Reject statically known type mismatches, mirroring the
        reference's transition tables; unknown kinds pass."""
        lk, rk = self._type_kind(lt), self._type_kind(rt)
        if lk is None or rk is None or (lk, rk) in allowed:
            return
        raise self.error(
            f"unsupported operand type(s) for {op}: `{lt}` and `{rt}`", node.span
        )

    def _compile_binop(self, node: BinaryOperation) -> Value:
        left = self.compile_expr(node.left)
        right = self.compile_expr(node.right)
        op = node.op
        l, r = left.col, right.col
        lt, rt = left.dtype, right.dtype
        NUM = {("num", "num")}
        if op == "+":
            self._check_op_types(
                node, op, lt, rt, NUM | {("str", "str"), ("list", "list")}
            )
            if lt == "str" or rt == "str":
                return Value(col=F.concat(l, r), dtype="str")
            if lt.startswith("list") or rt.startswith("list"):
                return Value(col=F.concat(l, r), dtype=lt if lt.startswith("list") else rt)
            return Value(col=l + r, dtype=_num(lt, rt))
        if op == "-":
            self._check_op_types(node, op, lt, rt, NUM)
            return Value(col=l - r, dtype=_num(lt, rt))
        if op == "*":
            # str * int / int * str = repetition
            # (ref: validate_static_types.py:742-745 Multiply table)
            self._check_op_types(
                node, op, lt, rt, NUM | {("str", "num"), ("num", "str")}
            )
            if lt == "str" and rt in ("int", "bool"):
                return Value(col=F.repeat(l, r.cast("int")), dtype="str")
            if rt == "str" and lt in ("int", "bool"):
                return Value(col=F.repeat(r, l.cast("int")), dtype="str")
            if "str" in (lt, rt):
                raise self.error(
                    f"unsupported operand type(s) for *: `{lt}` and `{rt}`", node.span
                )
            return Value(col=l * r, dtype=_num(lt, rt))
        if op == "/":
            self._check_op_types(node, op, lt, rt, NUM)
            return Value(col=l / r, dtype="float")
        if op == "//":
            self._check_op_types(node, op, lt, rt, NUM)
            if lt == "int" and rt == "int":
                return Value(col=F.floor(l.cast("double") / r).cast("long"), dtype="int")
            return Value(col=F.floor(l / r).cast("double"), dtype="float")
        if op == "%":
            # Python modulo takes the sign of the divisor; SQL pmod covers
            # the common non-negative-divisor case.
            self._check_op_types(node, op, lt, rt, NUM)
            return Value(col=F.pmod(l, r), dtype=_num(lt, rt))
        if op == "**":
            self._check_op_types(node, op, lt, rt, NUM)
            return Value(col=F.pow(l, r), dtype="float")
        # shifts and bitwise ops are int-only in the reference table
        # (validate_static_types.py:746-756)
        if op in ("<<", ">>", "|", "^", "&"):
            self._check_op_types(node, op, lt, rt, NUM)
            if "float" in (lt, rt):
                raise self.error(
                    f"unsupported operand type(s) for {op}: `{lt}` and `{rt}`",
                    node.span,
                )
        if op == "<<":
            return Value(col=F.shiftleft(l, _const_int(self, right, node.span)), dtype="int")
        if op == ">>":
            return Value(col=F.shiftright(l, _const_int(self, right, node.span)), dtype="int")
        if op == "|":
            return Value(col=l.bitwiseOR(r), dtype="int")
        if op == "^":
            return Value(col=l.bitwiseXOR(r), dtype="int")
        if op == "&":
            return Value(col=l.bitwiseAND(r), dtype="int")
        raise self.error(f"unsupported binary operator {op}", node.span)

    def _compile_comparison(self, node: BinaryComparison) -> Value:
        left = self.compile_expr(node.left)
        right = self.compile_expr(node.right)
        op = node.op
        lt, rt = left.dtype, right.dtype
        lk, rk = self._type_kind(lt), self._type_kind(rt)
        if op in ("==", "!="):
            # incompatible known kinds always compare False/True
            # (ref: validate_static_types.py:472-534 — errors
            # "left and right sides have incompatible types"); null
            # literals compare against anything
            if (
                lk is not None
                and rk is not None
                and lk != rk
                and "null" not in (lt, rt)
            ):
                raise self.error(
                    f"left and right sides have incompatible types "
                    f"(`{lt}` vs `{rt}`)",
                    node.span,
                )
            if op == "==":
                return Value(col=nullsafe.sml_eq(left, right), dtype="bool")
            return Value(col=nullsafe.sml_ne(left, right), dtype="bool")
        if op in ("in", "not in"):
            # valid: str in str, any in List
            # (ref: validate_static_types.py:768-773)
            if rk == "num" or (rk == "str" and lk not in (None, "str")):
                raise self.error(
                    f"unsupported operand type(s) for in: `{lt}` and `{rt}`",
                    node.span,
                )
            col = nullsafe.sml_in(left, right)
            return Value(col=col if op == "in" else ~col, dtype="bool")
        # ordering comparisons are numeric-only in the reference
        # (validate_static_types.py:764-767: LessThan..GreaterThanEquals
        # accept _INT_OR_FLOAT_T only)
        if (lk is not None and lk != "num") or (rk is not None and rk != "num"):
            raise self.error(
                f"unsupported operand type(s) for {op}: `{lt}` and `{rt}`", node.span
            )
        cmap = {"<": "__lt__", "<=": "__le__", ">": "__gt__", ">=": "__ge__"}
        col = getattr(left.col, cmap[op])(right.col)
        return Value(col=col, dtype="bool")


def _num(lt: str, rt: str) -> str:
    if lt == "float" or rt == "float":
        return "float"
    return "int"


def _const_int(ctx: CompilerContext, v: Value, span: Span) -> int:
    if v.is_const and isinstance(v.const, int):
        return v.const
    raise ctx.error("shift amount must be an integer literal", span)


# --- public API --------------------------------------------------------------


@dataclass
class CompiledRuleset:
    """A compiled SML program: a pure DataFrame transformation.

    ``apply(df)`` projects the input to
    ``passthrough + extracted features + reserved columns``
    (__action_id, __timestamp, __verdicts, __entity_label_mutations,
    __label_effects, __error_count).
    """

    ctx: CompilerContext
    bindings: InputBindings
    # row-id frames pinned by batch cache / rate-limit lookups, released
    # by release_cache_state()
    _cache_persists: list = field(
        default_factory=list, init=False, repr=False, compare=False
    )
    # _hoisted_feature_order(), computed on first use
    _hoisted_order: Optional[list] = field(
        default=None, init=False, repr=False, compare=False
    )

    @property
    def feature_names(self) -> list[str]:
        return list(self.ctx.extracted)

    @property
    def feature_types(self) -> dict[str, str]:
        return {n: self.ctx.features[n].dtype for n in self.ctx.extracted}

    def _join_label(self, df: DataFrame, labels_df: DataFrame, spec: dict) -> DataFrame:
        """Left-join one HasLabel lookup as a boolean column.

        Semantics per the reference (stdlib/udfs/labels.py:168-224):
        status must match; an expired ADDED label does not count
        (expiry judged at event time); ``min_label_age`` requires the
        mutation to predate the action by at least that many seconds.
        Missing entity/label → False. The label side is filtered to one
        (entity_type, label) pair and broadcast — label cardinality per
        pair is bounded by labeled entities, which is orders below the
        event stream."""
        name = spec["name"]
        ts = F.col(self.bindings.timestamp).cast("timestamp").cast("double")
        side = (
            labels_df.filter(
                (F.col("entity_type") == F.lit(spec["entity_type"]))
                & (F.col("label") == F.lit(spec["label"]))
            )
            .select(
                F.col("entity_id").alias(f"{name}__id"),
                F.col("status").alias(f"{name}__status"),
                F.col("expires_at_unix").alias(f"{name}__exp"),
                F.col("mutation_ts").cast("timestamp").cast("double").alias(f"{name}__mut"),
            )
        )
        df = df.join(
            F.broadcast(side), spec["entity_col"] == F.col(f"{name}__id"), "left"
        )
        ok = F.col(f"{name}__status") == F.lit(spec["status"])
        if spec["status"] == "added":
            ok = ok & (
                (F.col(f"{name}__exp").isNull())
                | (F.col(f"{name}__exp") == 0)
                | (F.col(f"{name}__exp") > ts)
            )
        if spec.get("min_age_seconds"):
            ok = ok & (ts - F.col(f"{name}__mut") >= F.lit(float(spec["min_age_seconds"])))
        return df.select("*", F.coalesce(ok, F.lit(False)).alias(name)).drop(
            f"{name}__id", f"{name}__status", f"{name}__exp", f"{name}__mut"
        )

    def verdicts_column(self) -> Column:
        """Declaration-ordered array of declared verdict strings
        (ref: engine/language_types/verdicts.py:28-40)."""
        if not self.ctx.verdict_conditions:
            return F.array().cast("array<string>")
        parts = [F.when(cond, F.lit(v)) for cond, v in self.ctx.verdict_conditions]
        return F.filter(F.array(*parts), lambda x: x.isNotNull())

    def label_mutations_column(self) -> Column:
        """``"{EntityType}/{label}/{status}"`` strings
        (ref: engine/language_types/labels.py:44-66,
        engine/shared_constants.py:11-12)."""
        if not self.ctx.label_effects:
            return F.array().cast("array<string>")
        parts = [
            F.when(e["cond"], F.lit(f"{e['entity_type']}/{e['label']}/{e['status']}"))
            for e in self.ctx.label_effects
        ]
        return F.filter(F.array(*parts), lambda x: x.isNotNull())

    def label_effects_column(self) -> Column:
        """Typed label-effect rows for the stateful layer (engine
        extension; the reference ships these to LabelOutputSink,
        ref: worker/sinks/sink/output_sink.py:156-173)."""
        if not self.ctx.label_effects:
            return F.array().cast(LABEL_EFFECT_SCHEMA)
        parts = [
            F.when(
                e["cond"],
                F.struct(
                    F.lit(e["entity_type"]).alias("entity_type"),
                    e["entity_id"].alias("entity_id"),
                    F.lit(e["label"]).alias("label"),
                    F.lit(e["status"]).alias("status"),
                    F.lit(e["expires_after"]).cast("double").alias("expires_after"),
                ),
            )
            for e in self.ctx.label_effects
        ]
        return F.filter(F.array(*parts), lambda x: x.isNotNull())

    def atproto_list_column(self) -> Column:
        """``'did|list_uri'`` strings for fired AtprotoList effects —
        the 'atproto_list' custom extracted feature (ref:
        example_plugins/src/udfs/atproto/list.py:38-49)."""
        if not self.ctx.list_effects:
            return F.array().cast("array<string>")
        parts = [
            F.when(cond, entry) for cond, entry in self.ctx.list_effects
        ]
        return F.filter(F.array(*parts), lambda x: x.isNotNull())

    def sample_filter(
        self, df: DataFrame, sample_config: dict[str, int], sample_key: Optional[Column] = None
    ) -> tuple[DataFrame, Column]:
        """Per-action-name sampling (ref: worker/sinks/sink/rules_sink.py:47-70
        ActionSampler): config maps action_name -> sample_rate in [0, 100]
        where 100 = keep every event (disabled), 0 = drop every event, else
        drop with probability rate/100. The reference rolls ``randint``
        per action; this engine derives the roll deterministically from
        ``sample_key`` (md5 bucket in [0, 100)) so runs are replayable and
        oracle-checkable. Returns (filtered df, sample_rate column) — the
        rate column is NULL at 100, matching the reference's serialized
        ``sample_rate`` extra feature
        (ref: engine/executor/custom_extracted_features.py:84-96).
        """
        for name, rate in sample_config.items():
            if not (0 <= int(rate) <= 100):
                raise ValueError(f"sample_rate for {name!r} must be in [0, 100], got {rate}")
        b = self.bindings
        if sample_key is None:
            key_src = b.action_id if (b.action_id and b.action_id in df.columns) else b.data
            sample_key = F.col(key_src).cast("string")
        rate = F.coalesce(
            F.element_at(
                F.create_map(
                    *[x for name, r in sorted(sample_config.items()) for x in (F.lit(name), F.lit(int(r)))]
                ),
                F.col(b.action_name),
            ),
            F.lit(100),
        )
        # 16-bit md5 bucket mod 100: deterministic replayable roll.
        # Known slight bias: 65536 % 100 != 0, so buckets 0-35 occur
        # 656/65536 of the time vs 655/65536 for 36-99 — a <0.16%
        # relative skew vs the reference's uniform randint, accepted
        # for exact replayability.
        bucket = F.conv(F.substring(F.md5(sample_key.cast("binary")), 1, 4), 16, 10).cast("int") % 100
        # NULL sample keys have no identity to roll on. Policy: KEEP
        # (fail-open — a safety engine should not silently drop events
        # it cannot attribute), except rate=0 which is an explicit
        # drop-all. The reference's randint roll would drop rate% of
        # them nondeterministically; fail-open is the deterministic
        # superset (every row the reference could keep, we keep).
        keep = (rate == 100) | ((rate != 0) & F.coalesce(bucket >= rate, F.lit(True)))
        out = df.withColumn("__rate", rate).filter(keep)
        return out, F.when(F.col("__rate") < 100, F.col("__rate")).cast("int")

    def _pin_row_ids(self, df: DataFrame) -> DataFrame:
        """``df`` with the row-id column ``families.ROW_ID``: the ``pin``
        hook of the batch resolvers that join back by row id (cache,
        rate limit). The ids must be IDENTICAL in every branch that
        re-reads ``df`` (probes, per-Set writes, the join back), but
        monotonically_increasing_id depends on partition-local row
        order, which upstream exchanges don't guarantee across
        re-executions, so persist pins one materialization (released by
        ``release_cache_state()``)."""
        if ROW_ID in df.columns:
            return df
        df = df.withColumn(ROW_ID, F.monotonically_increasing_id()).persist()
        self._cache_persists.append(df)
        return df

    def _join_fused_state(
        self,
        df: DataFrame,
        fspecs: list[tuple[str, dict]],
        layout: BucketLayout,
        sec: Column,
        drop: tuple = (),
    ) -> DataFrame:
        """Resolve a RUN of streaming state ops that share one key
        expression in a SINGLE applyInPandasWithState pass — N
        stateful mechanisms, ONE shuffle and ONE state-store
        round-trip per micro-batch instead of N of each. A single op
        is a run of one: every family streams through this pass, and
        so does a cross-keyed CacheGet (``_join_cache_streaming``).

        This is not merely an optimization: Spark permits exactly ONE
        applyInPandasWithState per streaming query
        (UnsupportedOperationChecker rejects chains), so a rule with
        a 1-minute counter, a 1-hour counter and a tool-sequence CEP
        pattern — all keyed by the same conversation entity, the
        common transcript shape — could not stream at all as
        sequential passes. Fusion folds all per-key mechanisms
        against one composite state per bucket inside one sorted pass
        over the group. Groups fusion cannot merge (different keys,
        inter-op dependencies, cross-keyed cache writes) fail compile
        with an actionable split, not a deep Spark error.

        Per bucket, only the narrow key/sec[/ord] columns sort
        (``families.segments``, which the batch rate limit shares);
        each op folds the whole bucket in one call against those
        sorted arrays (``families.py``: one numpy kernel for the window
        counter and window sum, ``per_key`` for the loop-bodied
        families), and the outputs scatter back into input row order,
        so the wide passthrough frame is never sorted or copied. Each
        fold is pinned to its batch resolver by the stream==batch
        suites. ``sec`` is the event-second Column; ``drop`` names
        input columns nothing after the pass reads; they do not cross
        the state boundary. The composite state maps each op's
        identity (family + parameters + input expressions) to its
        ``{key: entry}`` map, so a ruleset hot-swap keeps unchanged
        ops' state, starts new ops empty and drops removed ones
        (``families.op_states`` also reads the older layouts).

        Rows group by ``__fs_bkt``, the key's bucket under ``layout``'s
        label (``keyed_state.bucket_column``): with the balanced labels
        a new engine checkpoint records, each of the P state tasks
        folds n/P buckets, and when the key is the sink's ``conv_id``
        each sink bucket's rows leave one task (``buckets.py``).

        Callers guarantee: every spec's key has the same column-node
        string, all ordered specs share one order expression, and no
        spec's inputs reference another fused op's output (the run
        detector in apply() flushes otherwise).
        """
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from ..streaming.keyed_state import run_keyed_state

        key_col = fspecs[0][1]["key_col"]
        proj: list = ["*", key_col.cast("string").alias("__fs_key"), sec.alias("__fs_sec")]
        ord_col = next(
            (sp["order_col"] for _, sp in fspecs if sp.get("order_col") is not None), None
        )
        if ord_col is not None:
            proj.append(ord_col.cast("double").alias("__fs_ord"))
        ops: list = []  # ({field: (column, dtype)}, out dtype, fold)
        out_cols: list = []
        out_fields: list = []
        for i, (fam, sp) in enumerate(fspecs):
            st = FAMILIES[fam].stream(sp)
            inputs = {}
            for field, (col, dtype) in st.cols.items():
                proj.append(col.alias(f"__fs{i}_{field}"))
                inputs[field] = (f"__fs{i}_{field}", dtype)
            # cache entries come back as a RAW lookup column; the
            # default/gate tail runs JVM-side below
            out_col = f"__fcv_{i}" if fam == "cache" else sp["name"]
            out_cols.append(out_col)
            out_fields.append(T.StructField(out_col, st.out_type))
            ops.append((inputs, st.out_np, st.fold))
        aug = df.select(*proj).drop(*drop)
        passthrough_cols = [
            f.name for f in aug.schema.fields if not f.name.startswith("__fs")
        ]
        out_schema = T.StructType(
            [aug.schema[c] for c in passthrough_cols] + out_fields
        )
        idents = op_identities(fspecs)
        fams = [fam for fam, _ in fspecs]
        ordered = ord_col is not None

        def fold(pdf, stored):
            smaps = op_states(stored, idents, fams)
            order, mks, starts, ends, sec = segments(pdf, ordered)
            out = {c: pdf[c] for c in passthrough_cols}
            for out_col, (inputs, out_np, op_fold), smap in zip(out_cols, ops, smaps):
                inp = {f: pdf[c].to_numpy(dtype=dt)[order] for f, (c, dt) in inputs.items()}
                got = (
                    np.full(len(sec), None, dtype=object)
                    if out_np == "object"
                    else np.zeros(len(sec), dtype=out_np)
                )
                op_fold(smap, mks, starts, ends, sec, inp, got)
                out[out_col] = np.empty_like(got)
                out[out_col][order] = got
            return pd.DataFrame(out, copy=False), dict(zip(idents, smaps))

        frame = run_keyed_state(
            aug, fold, out_schema, "states_json",
            bucket=("__fs_bkt", [F.col("__fs_key")]),
            layout=layout,
        )
        for i, (fam, sp) in enumerate(fspecs):
            if fam == "cache":
                frame = frame.select(
                    "*", cache_result(F.col(f"__fcv_{i}"), sp).alias(sp["name"])
                ).drop(f"__fcv_{i}")
        return frame

    def _join_cache_streaming(
        self, df: DataFrame, spec: dict, layout: BucketLayout, sec: Column
    ) -> DataFrame:
        """Streaming strategy for a CacheGet whose Set statements key
        differently from the Get — the one case a same-key fused run
        cannot route, since it groups every row by the Get's key. The
        input rows (probes, keyed by the Get's key) union with one
        narrow row per Set write (keyed by the Set's key, with its
        event second), the batch resolver's ``families.cache_union``,
        and the union streams through the fused pass as a one-op cache
        run keyed by the union's key column ``_ck``: each write row
        writes only its own statement, and the one cache fold orders
        writes before reads in a second, exactly like batch. The probe
        rows come back with the looked-up value — no stream-stream
        join-back; cross-batch late writes follow watermark limits. The
        op's state identity digests the union's columns, not the Set
        expressions, so a changed Set key or value keeps the carried
        writes; a checkpoint holding the bare ``{key: entry}`` map of
        the standalone resolver this pass replaced resumes through
        ``op_states``."""
        probes = df.select(
            "*", spec["key_col"].cast("string").alias("_ck"), sec.alias("_cts")
        )
        write = {"key_col": F.col("_ck"), "value_col": F.col("_cv")}
        union_spec = {
            **spec,
            "key_col": F.col("_ck"),
            "sets": [
                {**st, **write, "gate": F.col("_cidx") == st["idx"]} for st in spec["sets"]
            ],
        }
        looked = self._join_fused_state(
            cache_union(probes, df, spec, sec), [("cache", union_spec)], layout,
            F.col("_cts"), drop=("_cexp",),
        )
        return looked.filter(F.col("_cidx").isNull()).drop("_ck", "_cts", "_cidx", "_cv")

    def release_cache_state(self) -> None:
        """Unpersist the pinned row-id frames cache and rate-limit
        lookups created — call after materializing apply()'s result in
        long sessions."""
        for d in self._cache_persists:
            d.unpersist()
        self._cache_persists.clear()

    def _hoisted_feature_order(self) -> list[tuple[str, Optional[Column]]]:
        """Feature materialization order with STATE OPS HOISTED as
        early as their dependencies allow.

        Why: the streaming state ops ship every column of their
        input frame through Arrow (python state fn) and back. In
        source order a state op defined after N features carries all N
        through that boundary — measured 5x throughput loss on the
        40-feature bench ruleset (55k vs 271k turns/s) because Arrow
        serialization of the wide frame, a shared-bandwidth cost, not
        compute, dominates. Hoisting the op to just after its LAST
        dependency means only (source columns + the op's dep closure)
        cross the boundary; every other feature computes afterwards,
        JVM-side.

        Safety: SML is define-before-use, so no entry earlier in
        source order can reference a state op defined later — moving
        an op earlier past non-dependencies cannot break any earlier
        entry, and dependents compiled after it stay after it (their
        relative order is unchanged). Dependencies are extracted from
        the op's input columns (``families.spec_columns``) via the
        unresolved column tree, with a raw mangled-token scan as a
        conservative superset for columns built from SQL strings;
        unknown names are ignored. Batch frames get the same order —
        feature columns are pure expressions, so materialization order
        is semantics-free there.
        """
        # pure function of compile-time state — memoize so repeated
        # apply() calls skip the per-column py4j node().toString()
        # round trips (the compiled-ruleset session cache otherwise
        # pays them on every query build)
        if self._hoisted_order is not None:
            return self._hoisted_order
        entries = list(self.ctx.feature_exprs)
        pos = {name: i for i, (name, _) in enumerate(entries)}
        label_specs = {s["name"]: s for s in self.ctx.label_lookups}

        refs_of: dict[str, set] = {}
        state_ops: list[str] = []
        for name, defn in entries:
            if defn is not None:
                cols = [defn]
            elif name in self.ctx.state_ops:
                cols = spec_columns(*self.ctx.state_ops[name])
                state_ops.append(name)
            else:
                cols = [label_specs[name]["entity_col"]]
            deps: set = set()
            for c in cols:
                deps |= _column_refs(c)
            refs_of[name] = deps & set(pos)

        # hoist set = the Arrow state ops plus their transitive
        # dependency closures (closure members are as movable as the
        # ops: each only needs its OWN deps in place)
        hoist: set = set()
        stack = list(state_ops)
        while stack:
            n = stack.pop()
            if n in hoist:
                continue
            hoist.add(n)
            stack.extend(refs_of[n])

        rank: dict[str, float] = {}

        def r(n: str) -> float:
            got = rank.get(n)
            if got is not None:
                return got
            if n not in hoist:
                rank[n] = float(pos[n])
            else:
                # strictly after every dep; the epsilon stacks along
                # chains and stays far below the 1.0 gaps between
                # non-hoisted entries
                rank[n] = max((r(d) for d in refs_of[n]), default=-1.0) + 1e-6
            return rank[n]

        self._hoisted_order = sorted(entries, key=lambda e: (r(e[0]), pos[e[0]]))
        return self._hoisted_order

    def apply(
        self,
        df: DataFrame,
        passthrough: Optional[list[str]] = None,
        labels_df: Optional[DataFrame] = None,
        sample_config: Optional[dict[str, int]] = None,
        sample_key: Optional[Column] = None,
        state_layout: Optional[BucketLayout] = None,
    ) -> DataFrame:
        """``labels_df`` is the label-store snapshot required when the
        ruleset calls HasLabel: columns (entity_type, entity_id, label,
        status, expires_at_unix, mutation_ts) — the output of
        ``streaming.state.latest_labels``. ``sample_config`` enables
        per-action-name sampling *before* any feature evaluates (the
        filter sits directly over the scan, so Catalyst pushes it into
        the source and dropped events never cost a feature).
        ``state_layout`` is the state-bucket layout of a streaming
        frame's checkpoint (``StreamingRuleEngine`` records and passes
        it); without one, the state passes bucket by identity labels
        over ``state_bucket_count()``, resolved once here."""
        b = self.bindings
        sample_rate_col: Optional[Column] = None
        if sample_config:
            df, sample_rate_col = self.sample_filter(df, sample_config, sample_key)
        specs = {s["name"]: s for s in self.ctx.label_lookups}
        if specs and labels_df is None:
            raise ValueError(
                "ruleset uses HasLabel — apply(labels_df=...) requires a label snapshot"
            )
        # Output-name collision guard: the result frame must be usable
        # under Spark's DEFAULT case-insensitive resolution, not just
        # under this engine's caseSensitive=true sessions. A ruleset
        # extracting `Role` with `role` passed through produces a frame
        # where any unqualified select of either name throws
        # AMBIGUOUS_REFERENCE on a default session — fail fast here
        # with an actionable message instead.
        out_names = list(passthrough or []) + list(self.ctx.extracted)
        by_fold: dict[str, list[str]] = {}
        for n in out_names:
            by_fold.setdefault(n.lower(), []).append(n)
        clashes = {k: v for k, v in by_fold.items() if len(v) > 1}
        if clashes:
            detail = "; ".join(
                " vs ".join(sorted(v)) for v in clashes.values()
            )
            raise ValueError(
                "apply() output would contain case-insensitively colliding "
                f"columns ({detail}) — ambiguous under Spark's default "
                "spark.sql.caseSensitive=false. Drop the colliding name "
                "from passthrough (the extracted feature already carries "
                "the value) or rename the feature."
            )
        cols: list[Column] = []
        for name in passthrough or []:
            cols.append(F.col(name))
        if b.action_id and b.action_id in df.columns:
            cols.append(F.col(b.action_id).cast("long").alias(ACTION_ID))
        else:
            # deterministic id when the input has none
            # (ref: worker/sinks/sink/rules_sink.py:152-153 generates one)
            cols.append(F.xxhash64(F.col(b.data)).alias(ACTION_ID))
        cols.append(F.col(b.timestamp).alias(TIMESTAMP))
        for name in self.ctx.extracted:
            v = self.ctx.features[name]
            cols.append(v.col.alias(name))
        cols.append(self.verdicts_column().alias(VERDICTS))
        cols.append(self.label_mutations_column().alias(LABEL_MUTATIONS))
        cols.append(self.label_effects_column().alias(LABEL_EFFECTS))
        if self.ctx.list_effects:
            # present only when the ruleset uses AtprotoList, matching
            # the reference's conditional custom extracted feature
            cols.append(self.atproto_list_column().alias("atproto_list"))
        # failed-node counter: the JVM-computable subset is required
        # extraction misses (ref counts every raised UDF; our Err→NULL
        # collapse keeps values identical and this keeps the count)
        indicators = self.ctx.error_indicators
        if indicators:
            err = sum(
                (ind.cast("int") for ind in indicators[1:]),
                indicators[0].cast("int"),
            )
            cols.append(F.coalesce(err, F.lit(0)).alias(ERROR_COUNT))
        else:
            cols.append(F.lit(0).alias(ERROR_COUNT))
        if sample_rate_col is not None:
            cols.append(sample_rate_col.alias(SAMPLE_RATE))
        # Materialize features layer by layer; each definition may
        # reference earlier features by (mangled) column name. Catalyst
        # collapses single-use chains and keeps multi-use expressions
        # shared (collapseProjectAlwaysInline=false), so the optimized
        # plan stays linear in ruleset size.
        sec = F.col(b.timestamp).cast("timestamp").cast("long")

        # STATE-OP FUSION (streaming only): a maximal run of
        # consecutive state ops sharing one key expression resolves
        # through a single applyInPandasWithState — one exchange + one
        # state-store pass for N mechanisms. Runs break on: a
        # non-state entry, a different key node, a second order
        # expression, or an op whose inputs reference a fused op's
        # output (it must see that column materialized).
        streaming = df.isStreaming
        if streaming and state_layout is None:
            from ..streaming.buckets import BucketLayout, state_bucket_count

            state_layout = BucketLayout(state_bucket_count())
        pending: list[tuple[str, dict]] = []
        state_passes: list[list[str]] = []

        def _register_pass(names: list[str]) -> None:
            # Spark allows ONE applyInPandasWithState per streaming
            # query; fusion collapses same-key runs into one, but
            # groups split by key changes, inter-op dependencies, or
            # cross-keyed cache writes cannot share a pass. Fail here
            # with the split, not deep inside Spark's
            # UnsupportedOperationChecker (or a scratch-column
            # resolution error) when the second pass builds.
            if state_passes:
                groups = "; ".join(
                    "{" + ", ".join(g) + "}" for g in state_passes + [names]
                )
                raise ValueError(
                    "streaming ruleset needs "
                    f"{len(state_passes) + 1} stateful passes ({groups}) but "
                    "Spark supports a single applyInPandasWithState per "
                    "query. Stateful features stream together only when they "
                    "share one key expression, do not read each other's "
                    "outputs, and do not mix with Cache* ops; split the "
                    "ruleset or evaluate the extra features in batch."
                )
            state_passes.append(names)

        order = self._hoisted_feature_order()

        def _dead_envelope(pos: int) -> tuple:
            # the envelope columns (the JSON ``data`` copy of the whole
            # action, ``action_name``) that no feature from ``pos`` on
            # and no output column names: the state pass need not ship
            # them. A word scan of the column trees over-captures (a
            # literal 'data' keeps the column); an under-capture would
            # fail analysis when the plan builds
            later: list = list(cols)
            for name, defn in order[pos:]:
                if defn is not None:
                    later.append(defn)
                elif name in self.ctx.state_ops:
                    later += spec_columns(*self.ctx.state_ops[name])
                else:
                    later.append(specs[name]["entity_col"])
            words = set(_re_mod.findall(r"\w+", " ".join(map(stable_node, later)).lower()))
            return tuple(
                c for c in (b.data, b.action_name)
                if c in df.columns and _re_mod.fullmatch(r"\w+", c) and c.lower() not in words
            )

        def _flush(frame: DataFrame, pos: int) -> DataFrame:
            if not pending:
                return frame
            _register_pass([sp["name"] for _, sp in pending])
            frame = self._join_fused_state(
                frame, list(pending), state_layout, sec, _dead_envelope(pos)
            )
            pending.clear()
            return frame

        def _fusable(fam: str, sp: dict) -> bool:
            if not pending:
                return True
            key_node = stable_node(pending[0][1]["key_col"])
            if stable_node(sp["key_col"]) != key_node:
                return False
            if fam == "cache":
                # every Set statement must write through the SAME key
                # the fused pass groups by, or its writes would land
                # in the wrong bucket
                for s in sp["sets"]:
                    if stable_node(s["key_col"]) != key_node:
                        return False
            if sp.get("order_col") is not None:
                for _, psp in pending:
                    if psp.get("order_col") is not None and stable_node(
                        psp["order_col"]
                    ) != stable_node(sp["order_col"]):
                        return False
            emitted = {psp["name"] for _, psp in pending}
            refs: set = set()
            for c in spec_columns(fam, sp):
                refs |= _column_refs(c)
            return not (refs & emitted)

        for pos, (mangled, defn) in enumerate(order):
            if defn is not None:
                df = _flush(df, pos)
                df = df.select("*", defn.alias(mangled))
                continue
            if mangled not in self.ctx.state_ops:
                df = _flush(df, pos)
                df = self._join_label(df, labels_df, specs[mangled])
                continue
            fam, sp = self.ctx.state_ops[mangled]
            if not streaming:
                df = FAMILIES[fam].batch(df, sp, sec, self._pin_row_ids)
                continue
            if fam == "cache" and any(
                stable_node(s["key_col"]) != stable_node(sp["key_col"])
                for s in sp["sets"]
            ):
                # writes keyed differently from the reads: only the
                # union resolver can route them — a pass of its own
                df = _flush(df, pos)
                _register_pass([mangled])
                df = self._join_cache_streaming(df, sp, state_layout, sec)
                continue
            if not _fusable(fam, sp):
                df = _flush(df, pos)
            pending.append((fam, sp))
        df = _flush(df, len(order))
        return df.select(*cols)


def _default_registry() -> dict[str, Callable]:
    from ..functions.registry import REGISTRY

    return REGISTRY


def compile_ruleset(
    sources: dict[str, str],
    entry: str = "main.sml",
    bindings: Optional[InputBindings] = None,
    registry: Optional[dict[str, Callable]] = None,
    labels_config=None,
) -> CompiledRuleset:
    """Compile a rule-source tree (path → SML text) to a ruleset.

    ``entry`` mirrors the reference convention that execution starts
    from ``main.sml`` (ref: engine/ast/sources.py:14-25).
    ``labels_config``: optional ``LabelsConfig`` (labels.yaml stand-in)
    enabling compile-time label validation.
    """
    bindings = bindings or InputBindings()
    if labels_config is not None and not hasattr(labels_config, "labels"):
        from .labels_config import LabelsConfig

        labels_config = LabelsConfig.from_dict(labels_config)
    ctx = CompilerContext(
        sources, bindings, registry or _default_registry(), labels_config=labels_config
    )
    ctx.compile_path(entry, Span(entry, 0, 0))
    return CompiledRuleset(ctx=ctx, bindings=bindings)


def compile_sml(
    text: str,
    bindings: Optional[InputBindings] = None,
    registry: Optional[dict[str, Callable]] = None,
) -> CompiledRuleset:
    """Compile a single inline SML program (the reference's test style,
    ref: engine/conftest.py:283-376)."""
    return compile_ruleset({"main.sml": text}, "main.sml", bindings, registry)


def compile_query_filter(
    text: str,
    feature_types: dict[str, str],
    registry: Optional[dict[str, Callable]] = None,
) -> Column:
    """Compile a UI-style SML filter expression to a Spark predicate.

    Mirrors ``parse_query_to_validated_ast('Query = ' + filter)``
    (ref: engine/query_language/__init__.py:12-36) + the ClickHouse
    translator (ref: engine/query_language/ast_clickhouse_translator.py
    :50-223), except we emit a Spark ``Column`` directly — the sink
    table's columns are the feature namespace.
    """
    from ..functions.registry import QUERY_REGISTRY

    prog = parse_program("Query = (" + text + ")", "<query>")
    reg = dict(QUERY_REGISTRY)
    reg.update(registry or {})
    ctx = CompilerContext({}, InputBindings(), reg)
    scope = _FileScope(path="<query>")
    ctx._scopes.append(scope)
    for fname, ftype in feature_types.items():
        ctx.features[fname] = Value(col=F.col(fname), dtype=ftype)
    stmt = prog.statements[0]
    assert isinstance(stmt, Assign)
    value = ctx.compile_expr(stmt.value)
    return nullsafe.truthy(value)

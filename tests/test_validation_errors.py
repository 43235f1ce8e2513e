"""Validator-error corpus (mirrors the reference's golden-output
style, engine/conftest.py:73-151 check_output — here as a
parametrized table of program → required error fragment, which keeps
the corpus in one place without snapshot files)."""

from __future__ import annotations

import pytest

from osprey_spark.compiler import compile_ruleset
from osprey_spark.sml.errors import SmlError, SmlValidationError

CASES = [
    ("duplicate feature", "X = 1\nX = 2\n", "duplicate feature"),
    ("undefined name", "Y = NotDefined\n", "undefined name"),
    ("unknown udf", "Y = NoSuchUdf(x=1)\n", "NoSuchUdf"),
    ("unknown enum attribute", "Y = LabelStatus.NOPE\n", "unknown attribute"),
    ("unknown enum base", "Y = Nope.NOPE\n", "unknown attribute"),
    (
        "cache ttl below one",
        "K: str = JsonData(path='$.k')\nCacheSetStr(key=K, value=K, ttl_seconds=0.5)\n",
        "ttl_seconds",
    ),
    (
        "window below one second",
        "K: str = JsonData(path='$.k')\nN = IncrementWindow(key=K, window_seconds=0.2)\n",
        "window_seconds",
    ),
    (
        "cache get without set",
        "K: str = JsonData(path='$.k')\nG = CacheGetStr(key=K)\n",
        "no preceding CacheSet",
    ),
    (
        "bad haslabel status",
        "U: Entity[str] = EntityJson(type='U', path='$.u')\nB = HasLabel(entity=U, label='x', status='maybe')\n",
        "status",
    ),
    (
        "snowflake granularity too small",
        "B = GetSnowflakeBucket(snowflake=1, granularity_seconds=60)\n",
        "3600",
    ),
    (
        "unknown named list",
        "T: str = JsonData(path='$.t')\nHit = CensorizedListContains(phrases=[T], list_name='nope_list')\n",
        "unknown named list",
    ),
    (
        "bad stringclean form",
        "T: str = JsonData(path='$.t')\nC = StringClean(s=T, form='NFX')\n",
        "form",
    ),
    (
        "bad regex at compile time",
        "T: str = JsonData(path='$.t')\nM = RegexMatch(target=T, pattern='[unclosed')\n",
        "invalid regex",
    ),
    (
        "unused local",
        "_tmp = 1\nX = 2\n",
        "unused local variable: `_tmp`",
    ),
    # unexpected-kwarg rejection (ref: validate_call_kwargs.py — a
    # typo'd kwarg must not silently compile to default behavior)
    (
        "typoed udf kwarg",
        "U: Entity[str] = EntityJson(type='U', path='$.u')\n"
        "B = HasLabel(entity=U, label='x', statu='added')\n",
        "unexpected keyword argument(s): statu",
    ),
    (
        "typoed jsondata kwarg",
        "T: str = JsonData(path='$.t', requird=False)\n",
        "unexpected keyword argument(s): requird",
    ),
    (
        "extra rule kwarg",
        "R = Rule(when_all=[True], description='d', extra=1)\n",
        "unexpected keyword argument(s): extra",
    ),
    (
        "extra statement udf kwarg",
        "K: str = JsonData(path='$.k')\n"
        "CacheSetStr(key=K, value=K, ttl_seconds=5, when_all=[True], extra=2)\n",
        "unexpected keyword argument(s): extra",
    ),
    (
        "extra whenrules kwarg",
        "R = Rule(when_all=[True], description='d')\n"
        "WhenRules(rules_any=[R], then=[DeclareVerdict(verdict='v')], els=[])\n",
        "unexpected keyword argument(s): els",
    ),
    (
        "extra require kwarg",
        "Require(rule='other.sml', when=True)\n",
        "unexpected keyword argument(s): when",
    ),
    # experiment validation (ref: stdlib/udfs/experiments.py:70-98)
    (
        "experiment without control bucket",
        "U: Entity[str] = EntityJson(type='U', path='$.u')\n"
        "E = Experiment(entity=U, buckets=['a', 'b'], name='e1')\n",
        "'control' must be one of the buckets",
    ),
    (
        "experiment size length mismatch",
        "U: Entity[str] = EntityJson(type='U', path='$.u')\n"
        "E = Experiment(entity=U, buckets=['control', 'b'], bucket_sizes=[5000], name='e1')\n",
        "same number of elements",
    ),
    (
        "experiment negative version",
        "U: Entity[str] = EntityJson(type='U', path='$.u')\n"
        "E = Experiment(entity=U, buckets=['control'], name='e1', version=-1)\n",
        "version must be zero or greater",
    ),
]


def test_used_locals_pass_the_lint(spark):
    # a local read even once (including by another local) is fine
    compile_ruleset({"main.sml": "_a = 1\n_b = _a + 1\nX = _b * 2\n"})


@pytest.mark.parametrize("label,sml,fragment", CASES, ids=[c[0] for c in CASES])
def test_validation_error(spark, label, sml, fragment):
    with pytest.raises(SmlError) as ei:
        compile_ruleset({"main.sml": sml})
    assert fragment.lower() in str(ei.value).lower()


# --- shared argument checks of the stateful calls ---------------------------

_K = "K: str = JsonData(path='$.k')\nV: int = JsonData(path='$.v')\n"

# (call, its *_seconds argument, the call's other arguments)
SECONDS_ARGS = [
    ("IncrementWindow", "window_seconds", "key=K"),
    ("GetWindowCount", "window_seconds", "key=K"),
    ("GetWindowDistinct", "window_seconds", "key=K, value=V"),
    ("GetWindowMax", "window_seconds", "key=K, value=V"),
    ("GetWindowMin", "window_seconds", "key=K, value=V"),
    ("GetWindowSum", "window_seconds", "key=K, value=V"),
    ("GetSessionCount", "gap_seconds", "key=K"),
    ("GetDecayScore", "halflife_seconds", "key=K"),
    ("CacheSetStr", "ttl_seconds", "key=K, value=K"),
]


@pytest.mark.parametrize(
    "func,name,rest", SECONDS_ARGS, ids=[f"{f}.{n}" for f, n, _ in SECONDS_ARGS]
)
def test_sub_second_state_argument_rejected(spark, func, name, rest):
    sml = _K + f"X = {func}({rest}, {name}=0.5)\n"
    with pytest.raises(SmlValidationError) as ei:
        compile_ruleset({"main.sml": sml})
    assert f"{func}: {name} must be >= 1" in str(ei.value)


GATED_CALLS = [
    ("IncrementWindow", "key=K, window_seconds=60"),
    ("GetWindowCount", "key=K, window_seconds=60"),
    ("GetWindowDistinct", "key=K, value=V, window_seconds=60"),
    ("GetWindowMax", "key=K, value=V, window_seconds=60"),
    ("GetWindowMin", "key=K, value=V, window_seconds=60"),
    ("SeenBefore", "key=K, value=V"),
    ("GetUniqueCount", "key=K, value=V"),
    ("CacheSetStr", "key=K, value=K"),
    ("CacheGetStr", "key=K"),
]


@pytest.mark.parametrize("func,rest", GATED_CALLS, ids=[f for f, _ in GATED_CALLS])
def test_non_list_when_all_rejected(spark, func, rest):
    sml = _K + "CacheSetStr(key=K, value=K)\n" + f"X = {func}({rest}, when_all=True)\n"
    with pytest.raises(SmlValidationError) as ei:
        compile_ruleset({"main.sml": sml})
    assert f"{func} when_all= must be a list" in str(ei.value)


# --- label config validation (ref: validate_labels.py:36-85) ----------------

LABELS = {
    "spammer": {"valid_for": ["UserId"], "connotation": "negative"},
    "trusted": ["UserId", "GuildId"],
}

_ENTITY = "U: Entity[str] = EntityJson(type='UserId', path='$.u')\n"
_GUILD = "G: Entity[str] = EntityJson(type='GuildId', path='$.g')\n"

LABEL_CASES = [
    (
        "unknown label with hint",
        _ENTITY + "LabelAdd(entity=U, label='spammer2')\n",
        "did you mean `spammer`",
    ),
    (
        "unknown label haslabel",
        _ENTITY + "B = HasLabel(entity=U, label='trustedd')\n",
        "did you mean `trusted`",
    ),
    (
        "short unknown label no hint",
        _ENTITY + "LabelRemove(entity=U, label='xy')\n",
        "unknown label",
    ),
    (
        "entity type outside valid_for",
        _GUILD + "LabelAdd(entity=G, label='spammer')\n",
        "not valid for this entity type",
    ),
]


@pytest.mark.parametrize("label,sml,fragment", LABEL_CASES, ids=[c[0] for c in LABEL_CASES])
def test_label_config_validation_error(spark, label, sml, fragment):
    with pytest.raises(SmlError) as ei:
        compile_ruleset({"main.sml": sml}, labels_config=LABELS)
    assert fragment.lower() in str(ei.value).lower()


def test_label_config_accepts_valid_programs(spark):
    from osprey_spark.compiler import LabelsConfig

    sml = (
        _ENTITY
        + _GUILD
        + "R = Rule(when_all=[True], description='r')\n"
        + "WhenRules(rules_any=[R], then=[LabelAdd(entity=U, label='spammer'), "
        + "LabelAdd(entity=G, label='trusted')])\n"
        + "B = HasLabel(entity=U, label='trusted')\n"
    )
    # dict shape and prebuilt LabelsConfig both work; no config = no checks
    compile_ruleset({"main.sml": sml}, labels_config=LABELS)
    compile_ruleset({"main.sml": sml}, labels_config=LabelsConfig.from_dict(LABELS))
    compile_ruleset(
        {
            "main.sml": _ENTITY
            + "R = Rule(when_all=[True], description='r')\n"
            + "WhenRules(rules_any=[R], then=[LabelAdd(entity=U, label='anything_goes')])\n"
        }
    )

"""Public kernel API — mirrors the reference Python binding.

`summarize(text, *, format, style, character_budget, skew, input_format)`
re-expresses /root/reference/python/src/lib.rs:95-124 with identical
defaults and configuration arithmetic (string cap 500, array cap =
max(budget // 2, 1), 2-space indent, '\n' newline, colors off).

`summarize_value` is the fast path used by the Spark operators: it takes an
already-parsed value tree (e.g. the per-conversation turns document), so
Arrow-decoded columns never round-trip through JSON text.
"""

from __future__ import annotations

from . import arena as ar
from .order import build_order
from .render import RenderConfig, find_largest_render_under_budget

DEFAULT_BUDGET = 500
DEFAULT_STRING_CAP = 500

_FORMAT_TO_TEMPLATE = {
    # stdin/auto and json resolve by style (python/src/lib.rs:21-40)
    "auto": None,
    "json": None,
    "yaml": "yaml",
    "yml": "yaml",
    "text": "text",
}
_STYLE_TO_JSON_TEMPLATE = {
    "strict": "json", "default": "pseudo", "detailed": "js"}
_SKEWS = ("balanced", "head", "tail")


def resolve_template(format: str, style: str) -> str:
    f = format.lower()
    if f not in _FORMAT_TO_TEMPLATE:
        raise ValueError(
            f"unknown format: {format} "
            "(expected 'auto' | 'json' | 'yaml' | 'text')")
    t = _FORMAT_TO_TEMPLATE[f]
    if t is None:
        return _STYLE_TO_JSON_TEMPLATE[style]
    return t


def make_configs(*, format: str = "auto", style: str = "default",
                 character_budget: int | None = None,
                 skew: str = "balanced",
                 string_cap: int | None = None
                 ) -> tuple[RenderConfig, dict, int]:
    style = style.lower()
    if style not in _STYLE_TO_JSON_TEMPLATE:
        raise ValueError(
            f"unknown style: {style} "
            "(expected 'strict' | 'default' | 'detailed')")
    skew = skew.lower()
    if skew not in _SKEWS:
        raise ValueError(
            f"unknown skew: {skew} (expected 'balanced' | 'head' | 'tail')")
    template = resolve_template(format, style)
    budget = DEFAULT_BUDGET if character_budget is None else character_budget
    prefer_tail = skew == "tail"
    cfg = RenderConfig(template=template, style=style, indent_unit="  ",
                       space=" ", newline="\n",
                       prefer_tail_arrays=prefer_tail)
    # string_cap mirrors the reference CLI's --string-cap (main.rs:66,421);
    # the reference's own yaml-test-suite harness passes 1000000
    # (tests/yaml_suite.rs:14-15) so untruncated round-trips need it too
    prio = {
        "max_string_graphemes": (DEFAULT_STRING_CAP if string_cap is None
                                 else max(int(string_cap), 0)),
        "array_max_items": max(max(budget, 1) // 2, 1),
        "sampler": skew if skew != "balanced" else "balanced",
        "prefer_tail_arrays": prefer_tail,
    }
    return cfg, prio, budget


def _run(a: ar.Arena, cfg: RenderConfig, prio: dict, budget: int) -> str:
    po = build_order(a, prio["max_string_graphemes"],
                     prefer_tail_arrays=prio["prefer_tail_arrays"],
                     max_pops=max(budget, 1), lazy=True)
    return find_largest_render_under_budget(po, cfg, budget)


def render_conversation(roles, texts, tools, cfg: RenderConfig, prio: dict,
                        budget: int,
                        pre_sampled_indices: list[int] | None = None,
                        pre_sampled_total: int | None = None) -> str:
    """Preview of the transcript document {"turns": [...]} given as
    parallel role/text/tool columns, with the configs from make_configs.
    The pre_sampled_* arguments are build_conversation_arena's: pass them
    when the sampler keep-set was applied upstream."""
    a = ar.build_conversation_arena(
        roles, texts, tools, prio["array_max_items"], prio["sampler"],
        pre_sampled_indices=pre_sampled_indices,
        pre_sampled_total=pre_sampled_total)
    return _run(a, cfg, prio, budget)


def summarize(text: str | bytes, *, format: str = "auto",
              style: str = "default", character_budget: int | None = None,
              skew: str = "balanced", input_format: str = "json",
              string_cap: int | None = None) -> str:
    cfg, prio, budget = make_configs(
        format=format, style=style, character_budget=character_budget,
        skew=skew, string_cap=string_cap)
    inf = input_format.lower()
    if inf == "json":
        a = ar.build_json_arena(text, prio["array_max_items"],
                                prio["sampler"])
    elif inf == "text":
        a = ar.build_text_arena(text, prio["array_max_items"],
                                prio["sampler"])
    elif inf in ("yaml", "yml"):
        from .yaml_ingest import build_yaml_arena
        a = build_yaml_arena(text, prio["array_max_items"],
                             prio["sampler"])
    else:
        raise ValueError(
            f"unknown input_format: {input_format} "
            "(expected 'json' | 'yaml' | 'text')")
    return _run(a, cfg, prio, budget)


def summarize_value(value, *, format: str = "json", style: str = "default",
                    character_budget: int | None = None,
                    skew: str = "balanced") -> str:
    """Summarize an already-parsed value tree (no JSON text round-trip)."""
    cfg, prio, budget = make_configs(
        format=format, style=style, character_budget=character_budget,
        skew=skew)
    a = ar.build_value_arena(value, prio["array_max_items"], prio["sampler"])
    return _run(a, cfg, prio, budget)


def resolve_fileset_ingest(names: list[str]) -> str:
    """Per-fileset ingest format by extension mix (main.rs:224-247):
    any .yaml/.yml => yaml; all .json => json; otherwise text."""
    lowers = [n.lower() for n in names]
    if any(n.endswith((".yaml", ".yml")) for n in lowers):
        return "yaml"
    if lowers and all(n.endswith(".json") for n in lowers):
        return "json"
    return "text"


def summarize_many(inputs: list[tuple[str, object]], *, format: str = "auto",
                   style: str = "default",
                   character_budget: int | None = None,
                   skew: str = "balanced",
                   input_format: str = "json",
                   per_input_budget: int | None = None) -> str:
    """Fileset variant (reference `headson_many*`): inputs are (name, doc).

    Effective budget follows main.rs:161-168: min(global, per_input *
    n_inputs) when both given; else whichever is present; else 500/input.
    """
    n = max(len(inputs), 1)
    if character_budget is not None and per_input_budget is not None:
        budget = min(character_budget, per_input_budget * n)
    elif character_budget is not None:
        budget = character_budget
    elif per_input_budget is not None:
        budget = per_input_budget * n
    else:
        budget = DEFAULT_BUDGET * n
    cfg, prio, _ = make_configs(
        format=format, style=style, character_budget=max(budget // n, 1),
        skew=skew)
    inf = input_format.lower()
    if inf == "auto":
        inf = resolve_fileset_ingest([n for n, _ in inputs])
    ingest = "text" if inf == "text" else (
        "yaml" if inf in ("yaml", "yml") else "json")
    a = ar.build_fileset_arena(inputs, prio["array_max_items"],
                               prio["sampler"], ingest=ingest)
    if format.lower() == "auto":
        cfg = RenderConfig(template="auto", style=cfg.style,
                           indent_unit=cfg.indent_unit, space=cfg.space,
                           newline=cfg.newline,
                           prefer_tail_arrays=cfg.prefer_tail_arrays)
    return _run(a, cfg, prio, budget)

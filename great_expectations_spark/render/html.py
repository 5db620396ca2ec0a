"""Self-contained HTML Data Docs (reference contract:
``render/renderer/site_builder.py`` — SiteBuilder renders validation
results into a browsable static site with an index page).

The reference ships tens of kLoC of Jinja templates and content-block
renderers; this module renders the same information surface — suite
verdict, statistics, per-expectation table, violation samples, and a
per-run index — as single-file HTML documents with inline CSS (no Jinja,
no assets directory, nothing to deploy but the files).  Pure Python over
the result-JSON shape; no Spark dependency, so rendering is driver-side
and O(results), never O(data).
"""

from __future__ import annotations

import html as _html
import os
from typing import Any, Dict, List, Optional, Union

from great_expectations_spark.core.results import (
    ExpectationSuiteValidationResult,
)
from great_expectations_spark.render.markdown import _as_dict, _domain_of

_CSS = """
body { font-family: -apple-system, 'Segoe UI', Roboto, sans-serif;
       margin: 2rem auto; max-width: 60rem; color: #1a1a2e; }
h1 { font-size: 1.4rem; border-bottom: 2px solid #e0e0e8;
     padding-bottom: .4rem; }
h2 { font-size: 1.1rem; margin-top: 1.6rem; }
table { border-collapse: collapse; width: 100%; margin: .8rem 0; }
th, td { border: 1px solid #d8d8e0; padding: .35rem .6rem;
         text-align: left; font-size: .88rem; }
th { background: #f4f4f8; }
code { background: #f4f4f8; padding: .1rem .3rem; border-radius: 3px;
       font-size: .85em; }
.ok { color: #0a7a33; font-weight: 600; }
svg.dist { margin: .3rem 0; }
svg.dist rect { fill: #5b7fd4; }
svg.dist rect:hover { fill: #2d4fa4; }
svg.dist text { font-size: .62rem; fill: #6a6a7a; }
.fail { color: #b3122e; font-weight: 600; }
.meta { color: #555; font-size: .85rem; }
ul.samples li { font-family: monospace; font-size: .85rem; }
""".strip()


def _esc(value: Any, max_len: int = 80) -> str:
    text = str(value)
    if len(text) > max_len:
        text = text[: max_len - 1] + "…"
    return _html.escape(text, quote=True)


def _status(ok: bool) -> str:
    return (
        '<span class="ok">PASS</span>'
        if ok
        else '<span class="fail">FAIL</span>'
    )


def _page(title: str, body: str) -> str:
    return (
        "<!doctype html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{_esc(title, 200)}</title>"
        f"<style>{_CSS}</style></head>\n<body>\n{body}\n</body></html>\n"
    )


def _svg_bars(
    labels: List[str],
    values: List[float],
    width: int = 440,
    height: int = 96,
    max_bars: int = 40,
) -> str:
    """Inline-SVG bar chart (no JS, no external deps — the reference
    renders these with altair; this keeps Data Docs self-contained).
    Bars are min-height-1px so zero-weight bins stay visible; labels go
    into <title> tooltips, first/last also under the axis."""
    if not values:
        return ""
    labels = [str(l) for l in labels[:max_bars]]
    vals = [max(float(v), 0.0) for v in values[:max_bars]]
    vmax = max(vals) or 1.0
    n = len(vals)
    pad, axis_h = 2, 14
    bar_w = max((width - pad * (n + 1)) / n, 1.0)
    parts = [
        f'<svg class="dist" width="{width}" '
        f'height="{height + axis_h}" role="img">'
    ]
    for i, (lab, v) in enumerate(zip(labels, vals)):
        h = max(round(v / vmax * (height - 2), 1), 1.0)
        x = round(pad + i * (bar_w + pad), 1)
        y = round(height - h, 1)
        parts.append(
            f'<rect x="{x}" y="{y}" width="{round(bar_w, 1)}" '
            f'height="{h}"><title>{_esc(lab)}: {_esc(v)}</title></rect>'
        )
    parts.append(
        f'<text x="{pad}" y="{height + axis_h - 3}">'
        f"{_esc(labels[0], 24)}</text>"
        f'<text x="{width - pad}" y="{height + axis_h - 3}" '
        f'text-anchor="end">{_esc(labels[-1], 24)}</text>'
    )
    if len(values) > max_bars:
        parts.append(
            f'<text x="{width / 2}" y="{height + axis_h - 3}" '
            f'text-anchor="middle">(first {max_bars} of '
            f"{len(values)} bins)</text>"
        )
    parts.append("</svg>")
    return "".join(parts)


def _chart_of(res: Dict[str, Any]) -> str:
    """Chart for one expectation result, if it carries a distribution:
    ``details.observed_partition`` (KL / chi² / drift families) or
    ``partial_unexpected_counts`` (map expectations)."""
    details = (res.get("details") or {})
    part = details.get("observed_partition") or res.get(
        "observed_partition"
    )
    if isinstance(part, dict) and part.get("weights"):
        weights = part["weights"]
        if part.get("bins") is not None:
            bins = part["bins"]
            labels = [
                f"[{bins[i]}, {bins[i + 1]})"
                for i in range(min(len(bins) - 1, len(weights)))
            ]
        else:
            labels = [str(v) for v in part.get("values", [])]
        return _svg_bars(labels or [""] * len(weights), weights)
    counts = res.get("partial_unexpected_counts")
    if counts:
        return _svg_bars(
            [str(c.get("value")) for c in counts],
            [c.get("count", 0) for c in counts],
        )
    return ""


def render_suite_result_html(
    result: Union[ExpectationSuiteValidationResult, Dict[str, Any]],
    title: Optional[str] = None,
    max_samples: int = 5,
) -> str:
    """One self-contained HTML document for one suite validation result:
    verdict, statistics line, per-expectation table, violation samples for
    each failed expectation."""
    data = _as_dict(result)
    meta = data.get("meta", {})
    stats = data.get("statistics", {})
    name = title or meta.get("expectation_suite_name", "validation")
    ok = bool(data.get("success"))

    parts: List[str] = [
        f"<h1>{_status(ok)} {_esc(name, 200)}</h1>",
        '<p class="meta">'
        + f"run <code>{_esc(meta.get('run_id', ''))}</code>"
        + (
            f" at {_esc(meta.get('validation_time'))}"
            if meta.get("validation_time")
            else ""
        )
        + f" — {stats.get('successful_expectations', 0)}/"
        f"{stats.get('evaluated_expectations', 0)} expectations passed "
        # success_percent is None when zero expectations were evaluated
        f"({(stats.get('success_percent') or 0.0):.1f}%)</p>",
        "<table><thead><tr><th>status</th><th>expectation</th>"
        "<th>column / domain</th><th>observed</th><th>unexpected</th>"
        "</tr></thead><tbody>",
    ]
    failures: List[Dict[str, Any]] = []
    for r in data.get("results", []):
        config = r.get("expectation_config", {})
        kwargs = config.get("kwargs", {})
        res = r.get("result", {}) or {}
        observed = res.get("observed_value")
        unexpected = res.get("unexpected_count")
        parts.append(
            f"<tr><td>{_status(bool(r.get('success')))}</td>"
            f"<td><code>{_esc(config.get('expectation_type'))}</code></td>"
            f"<td>{_esc(_domain_of(kwargs))}</td>"
            f"<td>{_esc(observed) if observed is not None else ''}</td>"
            f"<td>{_esc(unexpected) if unexpected is not None else ''}</td>"
            "</tr>"
        )
        if not r.get("success"):
            failures.append(r)
    parts.append("</tbody></table>")

    # distribution charts for every expectation that carries one
    # (observed_partition / partial_unexpected_counts) — the reference
    # draws these via altair; here they are inline SVG, dependency-free
    charts = [
        (config, chart)
        for r in data.get("results", [])
        for config in [r.get("expectation_config", {})]
        for chart in [_chart_of(r.get("result", {}) or {})]
        if chart
    ]
    if charts:
        parts.append("<h2>distributions</h2>")
        for config, chart in charts:
            parts.append(
                f"<p><code>{_esc(config.get('expectation_type'))}</code> "
                f"<code>{_esc(_domain_of(config.get('kwargs', {})))}"
                "</code></p>"
            )
            parts.append(chart)

    for r in failures:
        config = r.get("expectation_config", {})
        res = r.get("result", {}) or {}
        exc = r.get("exception_info") or {}
        parts.append(
            f"<h2>{_status(False)} "
            f"<code>{_esc(config.get('expectation_type'))}</code></h2>"
        )
        if exc.get("raised_exception"):
            parts.append(
                "<p>raised: "
                f"<code>{_esc(exc.get('exception_message'), 200)}</code></p>"
            )
            continue
        parts.append(
            f"<p>kwargs: <code>{_esc(config.get('kwargs'), 200)}</code></p>"
        )
        samples = res.get("partial_unexpected_list") or []
        if samples:
            parts.append("<p>sample violations:</p><ul class=\"samples\">")
            parts.extend(
                f"<li>{_esc(v, 120)}</li>" for v in samples[:max_samples]
            )
            parts.append("</ul>")
    return _page(name, "\n".join(parts))


def render_index_html(
    entries: List[Dict[str, Any]], title: str = "validation run"
) -> str:
    """Index page: one row per rendered document (reference
    ``site_builder.py`` index_builder), with status and link."""
    ok = all(bool(e.get("success")) for e in entries) if entries else True
    parts = [
        f"<h1>{_status(ok)} {_esc(title, 200)}</h1>",
        f'<p class="meta">{len(entries)} validated partitions</p>',
        "<table><thead><tr><th>partition</th><th>status</th>"
        "<th>expectations</th><th>report</th></tr></thead><tbody>",
    ]
    for e in sorted(entries, key=lambda e: str(e.get("partition_id"))):
        fname = e.get("file")
        parts.append(
            f"<tr><td>{_esc(e.get('partition_id'))}</td>"
            f"<td>{_status(bool(e.get('success')))}</td>"
            f"<td>{_esc(e.get('expectations', ''))}</td>"
            f"<td><a href=\"{_esc(fname, 200)}\">{_esc(fname, 200)}</a>"
            "</td></tr>"
        )
    parts.append("</tbody></table>")
    return _page(title, "\n".join(parts))


def render_curation_report_html(
    report: List[Dict[str, Any]], title: str = "corpus curation"
) -> str:
    """Data Docs page for a ``curate_corpus(..., with_report=True)``
    attrition table: per-stage surviving rows, retention vs input, and
    per-stage drop, with an inline-SVG bar chart of survivors by stage
    (same dependency-free chart the expectation pages use).  No
    reference analog (GE validates, it does not curate) — rendered in
    the reference's Data Docs idiom."""
    parts = [f"<h1>{_esc(title, 200)}</h1>"]
    if report:
        first = max(int(report[0].get("rows", 0)), 1)
        parts.append(
            f'<p class="meta">{len(report) - 1} stages, '
            f"{_esc(report[0].get('rows'))} input rows → "
            f"{_esc(report[-1].get('rows'))} kept "
            f"({_esc(round(100 * report[-1].get('rows', 0) / first, 2))}"
            "%)</p>"
        )
        parts.append(
            _svg_bars(
                [str(r.get("stage")) for r in report],
                [float(r.get("rows", 0)) for r in report],
            )
        )
        parts.append(
            "<table><thead><tr><th>stage</th><th>rows</th>"
            "<th>retained</th><th>dropped here</th></tr></thead><tbody>"
        )
        prev = None
        for r in report:
            rows = int(r.get("rows", 0))
            dropped = "" if prev is None else f"{prev - rows:,}"
            parts.append(
                f"<tr><td>{_esc(r.get('stage'))}</td>"
                f"<td>{rows:,}</td>"
                f"<td>{_esc(round(100 * float(r.get('retained', 0)), 2))}"
                f"%</td><td>{dropped}</td></tr>"
            )
            prev = rows
        parts.append("</tbody></table>")
    else:
        parts.append(
            '<p class="meta">empty report — run curate_corpus with '
            "with_report=True</p>"
        )
    return _page(title, "\n".join(parts))


def render_table_stats_html(
    distinct: Optional[Dict[str, int]] = None,
    moments: Optional[Dict[str, Dict[str, Any]]] = None,
    top_values: Optional[Dict[str, List[Any]]] = None,
    title: str = "incremental table stats",
    partitions: Optional[int] = None,
    histograms: Optional[Dict[str, Optional[Dict[str, Any]]]] = None,
) -> str:
    """Data Docs page for the partition sketch store's merged answers
    (``run_checkpoint`` summary keys ``distinct_estimates`` /
    ``stats_estimates`` / ``top_values``): per-column distinct counts,
    moment statistics, and a bar chart of each column's heaviest
    values.  No reference analog (GE recomputes stats per run; here the
    numbers come from merged per-partition sketches) — rendered in the
    reference's Data Docs idiom."""
    parts = [f"<h1>{_esc(title, 200)}</h1>"]
    if partitions is not None:
        parts.append(
            f'<p class="meta">merged from {int(partitions)} partition '
            "sketches — validated partitions were not re-scanned</p>"
        )
    columns = sorted(
        set(distinct or {})
        | set(moments or {})
        | set(top_values or {})
        | {c for c, h in (histograms or {}).items() if h}
    )
    if not columns:
        parts.append('<p class="meta">no sketched columns</p>')
        return _page(title, "\n".join(parts))
    parts.append(
        "<table><thead><tr><th>column</th><th>distinct (HLL)</th>"
        "<th>count</th><th>mean</th><th>stddev</th><th>min</th>"
        "<th>max</th></tr></thead><tbody>"
    )
    for c in columns:
        m = (moments or {}).get(c) or {}

        def _num(key: str) -> str:
            v = m.get(key)
            if v is None:
                return ""
            return _esc(round(float(v), 4))

        d = (distinct or {}).get(c)
        cnt = m.get("count")
        parts.append(
            f"<tr><td>{_esc(c)}</td>"
            f"<td>{'' if d is None else format(int(d), ',')}</td>"
            f"<td>{'' if cnt is None else format(int(cnt), ',')}</td>"
            f"<td>{_num('mean')}</td><td>{_num('stddev')}</td>"
            f"<td>{_num('min')}</td><td>{_num('max')}</td></tr>"
        )
    parts.append("</tbody></table>")
    for c in columns:
        top = (top_values or {}).get(c) or []
        if not top:
            continue
        parts.append(f"<h2>heaviest values — {_esc(c)}</h2>")
        parts.append(
            _svg_bars(
                [str(item) for item, _cnt in top],
                [float(cnt) for _item, cnt in top],
            )
        )
    for c in columns:
        h = (histograms or {}).get(c)
        if not h:
            continue
        edges, counts = h["edges"], h["counts"]
        labels = [
            f"[{edges[i]:g}, {edges[i + 1]:g}"
            + ("]" if i == len(counts) - 1 else ")")
            for i in range(len(counts))
        ]
        weights = [float(n) for n in counts]
        if h.get("below"):
            labels = [f"< {edges[0]:g}"] + labels
            weights = [float(h["below"])] + weights
        if h.get("above"):
            labels.append(f"> {edges[-1]:g}")
            weights.append(float(h["above"]))
        parts.append(f"<h2>histogram — {_esc(c)}</h2>")
        parts.append(_svg_bars(labels, weights))
    return _page(title, "\n".join(parts))


class HtmlDocsAction:
    """Checkpoint action: maintain a browsable Data Docs SITE (the
    reference's UpdateDataDocsAction + SiteBuilder): every validated
    partition writes its report page and refreshes the navigation above
    it — home index → suite page (column-grouped expectation blocks +
    run history) → run page (partition index) → partition report.
    Page layout and incremental/concurrent semantics live in
    :class:`great_expectations_spark.render.site.SiteBuilder`.

    Thread-safe: ``run_checkpoint`` fires actions from its calling
    thread, but several runs may share one action; SiteBuilder
    serializes state updates and index rewrites under a lock and lands
    every page via temp-file + ``os.replace`` so a concurrent reader
    never sees a torn page."""

    notify_on = "all"

    def __init__(self, directory: str) -> None:
        from great_expectations_spark.render.site import SiteBuilder

        self.directory = directory
        self.site = SiteBuilder(directory)

    def should_run(self, ctx) -> bool:
        return True

    def run(self, ctx) -> str:
        return self.site.add_validation_result(
            ctx.result,
            suite_name=ctx.suite_name,
            run_id=ctx.run_id,
            partition_id=f"{ctx.partition_column}={ctx.partition_id}",
        )

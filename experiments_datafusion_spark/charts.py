"""Chart renderer for benchmark series — the analog of the reference's plot
output (/root/reference/src/lib.rs:94-160 renders runtime-vs-batch-size PNG
charts per workload case; runall.sh:1-8 drives the sweep).

Pure-stdlib SVG (this container ships no matplotlib/PIL; SVG is the
dependency-free vector format every browser and review tool renders).
Styling follows the "recessive grid, thin marks, neutral ink" rules: one
2px series line, light grid, text never in the series color, native
<title> tooltips on data points.
"""

from __future__ import annotations

import math
from pathlib import Path

SERIES = "#2a78d6"  # categorical slot 1 (validated light-surface palette)
SERIES2 = "#d65f2a"  # categorical slot 2 — second strategy line
INK = "#3a3a3a"
MUTED = "#767676"
GRID = "#e4e4e4"
SURFACE = "#ffffff"

W, H = 640, 400
ML, MR, MT, MB = 64, 24, 44, 52  # margins: left/right/top/bottom


def _nice_ticks(lo: float, hi: float, n: int = 5) -> list[float]:
    """~n 'nice' tick positions covering [lo, hi]."""
    if hi <= lo:
        hi = lo + 1.0
    raw = (hi - lo) / max(n, 1)
    mag = 10 ** math.floor(math.log10(raw))
    for mult in (1, 2, 2.5, 5, 10):
        step = mult * mag
        if step >= raw:
            break
    start = math.floor(lo / step) * step
    ticks = []
    t = start
    while t <= hi + step * 0.5:
        if t >= lo - step * 0.5:
            ticks.append(round(t, 10))
        t += step
    return ticks


def _fmt(v: float) -> str:
    if v == 0:
        return "0"
    if abs(v) >= 1_000_000:
        return f"{v / 1_000_000:g}M"
    if abs(v) >= 1000:
        return f"{v / 1000:.0f}k" if v % 1000 == 0 else f"{v / 1000:.1f}k"
    if abs(v) >= 1:
        return f"{v:g}"
    return f"{v:.3g}"


def render_multi_line_chart(
    series: dict[str, list[tuple[float, float]]],
    title: str,
    xlabel: str,
    ylabel: str,
    out_path: str | Path,
    log_x: bool | None = None,
) -> None:
    """Write a one-or-two-series line chart (runtime vs size) as SVG — the
    two-series form mirrors the reference's comparator-vs-row-encoding
    charts (lib.rs:94-160 draws one line per sort strategy per case).

    ``log_x`` defaults to automatic: a geometric sweep spanning more than
    two decades gets a log x-axis (a linear axis would pile every small
    size onto the left edge)."""
    colors = [SERIES, SERIES2, INK]
    named = [(name, sorted(pts)) for name, pts in series.items() if pts]
    xs = [x for _, pts in named for x, _ in pts]
    ys = [y for _, pts in named for _, y in pts]
    x_lo, x_hi = min(xs), max(xs)
    if log_x is None:
        log_x = x_lo > 0 and x_hi / x_lo > 100
    y_lo, y_hi = 0.0, max(ys) * 1.08 or 1.0
    pw, ph = W - ML - MR, H - MT - MB

    def X(x: float) -> float:
        if log_x:
            lo, hi = math.log10(x_lo), math.log10(x_hi)
            return ML + (math.log10(x) - lo) / (hi - lo or 1) * pw
        return ML + (x - x_lo) / (x_hi - x_lo or 1) * pw

    def Y(y: float) -> float:
        return MT + ph - (y - y_lo) / (y_hi - y_lo or 1) * ph

    svg = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}" '
        f'viewBox="0 0 {W} {H}" font-family="system-ui, sans-serif">',
        f'<rect width="{W}" height="{H}" fill="{SURFACE}"/>',
        f'<text x="{ML}" y="24" font-size="14" font-weight="600" fill="{INK}">{title}</text>',
    ]
    # grid + y ticks
    for t in _nice_ticks(y_lo, y_hi):
        y = Y(t)
        svg.append(f'<line x1="{ML}" y1="{y:.1f}" x2="{W - MR}" y2="{y:.1f}" stroke="{GRID}" stroke-width="1"/>')
        svg.append(f'<text x="{ML - 8}" y="{y + 4:.1f}" font-size="11" fill="{MUTED}" text-anchor="end">{_fmt(t)}</text>')
    # x ticks (at data points; thin them if crowded)
    xs = sorted(set(xs))
    shown = xs if len(xs) <= 8 else xs[:: max(1, len(xs) // 8)]
    for t in shown:
        x = X(t)
        svg.append(f'<line x1="{x:.1f}" y1="{MT + ph}" x2="{x:.1f}" y2="{MT + ph + 4}" stroke="{MUTED}" stroke-width="1"/>')
        svg.append(f'<text x="{x:.1f}" y="{MT + ph + 18}" font-size="11" fill="{MUTED}" text-anchor="middle">{_fmt(t)}</text>')
    # axes
    svg.append(f'<line x1="{ML}" y1="{MT + ph}" x2="{W - MR}" y2="{MT + ph}" stroke="{MUTED}" stroke-width="1"/>')
    svg.append(f'<text x="{ML + pw / 2:.1f}" y="{H - 12}" font-size="12" fill="{INK}" text-anchor="middle">{xlabel}</text>')
    svg.append(
        f'<text x="16" y="{MT + ph / 2:.1f}" font-size="12" fill="{INK}" text-anchor="middle" '
        f'transform="rotate(-90 16 {MT + ph / 2:.1f})">{ylabel}</text>'
    )
    # series lines + points (native tooltips via <title>)
    for si, (name, pts) in enumerate(named):
        color = colors[si % len(colors)]
        path = " ".join(
            f"{'M' if i == 0 else 'L'}{X(x):.1f},{Y(y):.1f}" for i, (x, y) in enumerate(pts)
        )
        dash = "" if si == 0 else ' stroke-dasharray="6 3"'
        svg.append(f'<path d="{path}" fill="none" stroke="{color}" stroke-width="2"{dash}/>')
        for x, y in pts:
            label = f"{name}: " if name else ""
            svg.append(
                f'<circle cx="{X(x):.1f}" cy="{Y(y):.1f}" r="3.5" fill="{color}">'
                f"<title>{label}n={_fmt(x)}: {y:.3f}s</title></circle>"
            )
        # selective direct label: last point only
        lx, ly = pts[-1]
        svg.append(
            f'<text x="{X(lx) - 6:.1f}" y="{Y(ly) - 10:.1f}" font-size="11" fill="{INK}" '
            f'text-anchor="end">{ly:.2f}s</text>'
        )
    # legend (text in ink, swatch in series color), only for named series
    if any(name for name, _ in named):
        lx0 = W - MR - 150
        for si, (name, _) in enumerate(named):
            color = colors[si % len(colors)]
            y0 = MT + 6 + si * 18
            svg.append(f'<rect x="{lx0}" y="{y0 - 9}" width="14" height="3" fill="{color}"/>')
            svg.append(
                f'<text x="{lx0 + 20}" y="{y0 - 3}" font-size="11" fill="{INK}">{name}</text>'
            )
    svg.append("</svg>")
    out = Path(out_path)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text("\n".join(svg))

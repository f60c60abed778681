"""S7 — confusion-matrix PDF report sink, zero dependencies.

The reference renders two side-by-side row-normalized confusion-matrix
heatmaps (unprivileged vs privileged) with matplotlib and saves a PDF
(confusionmatrix.py:100-144: Blues colormap, ".2f" cell annotations
switching to white above half the max, class ticks, axis titles).
matplotlib isn't a dependency of this engine, so the sink emits the
same report as a hand-assembled single-page PDF — uncompressed
content stream of `re f` fill and `Tj` text operators, Helvetica,
exact xref table.

The DataFrame side stays distributed: `confusion_matrix_normalized`
(functions/metrics.py) aggregates each partition's census; only the
|classes|² pivot is collected for drawing, which is config-scale by
definition.
"""

from __future__ import annotations

from collections.abc import Sequence

PAGE_W, PAGE_H = 1008, 360          # 14 x 5 in at 72 dpi (reference figsize)


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _text(x: float, y: float, s: str, size: float = 10, gray: float = 0.0) -> str:
    return (
        f"BT /F1 {size} Tf {gray} {gray} {gray} rg "
        f"{x:.2f} {y:.2f} Td ({_esc(s)}) Tj ET\n"
    )


def _cell_color(v: float) -> tuple[float, float, float]:
    """White→dark-blue ramp standing in for matplotlib Blues."""
    v = max(0.0, min(1.0, v))
    return (1 - 0.87 * v, 1 - 0.65 * v, 1 - 0.25 * v)


def _draw_matrix(
    ox: float,
    oy: float,
    side: float,
    cm: Sequence[Sequence[float]],
    classes: Sequence,
    title: str,
) -> str:
    n = len(classes)
    cell = side / max(n, 1)
    mx = max((v for row in cm for v in row), default=1.0) or 1.0
    ops = []
    for i, row in enumerate(cm):            # i = true label, top row first
        for j in range(n):
            v = float(row[j]) if j < len(row) else 0.0
            r, g, b = _cell_color(v / mx)
            x = ox + j * cell
            y = oy + side - (i + 1) * cell
            ops.append(f"{r:.3f} {g:.3f} {b:.3f} rg {x:.2f} {y:.2f} {cell:.2f} {cell:.2f} re f\n")
            gray = 1.0 if v > mx / 2.0 else 0.0   # white text above half-max
            ops.append(_text(x + cell / 2 - 9, y + cell / 2 - 3, f"{v:.2f}", 9, gray))
    for j, c in enumerate(classes):          # x ticks
        ops.append(_text(ox + j * cell + cell / 2 - 3, oy - 12, str(c), 8))
    for i, c in enumerate(classes):          # y ticks
        ops.append(_text(ox - 14, oy + side - (i + 1) * cell + cell / 2 - 3, str(c), 8))
    ops.append(_text(ox + side / 2 - len(title) * 2.5, oy + side + 10, title, 11))
    ops.append(_text(ox + side / 2 - 32, oy - 26, "Predicted label", 9))
    ops.append(_text(ox - 30, oy + side / 2, "True", 9))
    ops.append(_text(ox - 30, oy + side / 2 - 10, "label", 9))
    return "".join(ops)


def render_confusion_matrix_pdf(
    cm_unpriv: Sequence[Sequence[float]],
    cm_priv: Sequence[Sequence[float]],
    classes: Sequence,
    title_unpriv: str = "Unprivileged group",
    title_priv: str = "Privileged group",
) -> bytes:
    """Assemble the two-panel report as PDF bytes."""
    side = 230.0
    content = (
        "1 1 1 rg 0 0 %d %d re f\n" % (PAGE_W, PAGE_H)
        + _draw_matrix(90, 60, side, cm_unpriv, classes, title_unpriv)
        + _draw_matrix(90 + PAGE_W / 2, 60, side, cm_priv, classes, title_priv)
    ).encode("latin-1", "replace")

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
            % (PAGE_W, PAGE_H)
        ),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def write_confusion_matrix_pdf(
    df,
    unpriv,
    y_true: str,
    y_pred: str,
    path: str,
) -> list:
    """End-to-end S7 sink: split predictions into unprivileged /
    privileged partitions (the reference's query / negated-query
    split, confusionmatrix.py:227-229), aggregate each row-normalized
    confusion matrix distributed (ONE pass per partition via the
    existing pivot operator), collect the two tiny matrices and write
    the two-panel PDF. Returns the class list used."""
    from demv_spark.functions.metrics import confusion_matrix_normalized

    # one None-aware, numeric-aware key for BOTH the per-side and the
    # combined sort: numeric labels order numerically (2 before 10,
    # matching the reference's class order), None last, and the two
    # sorts can never disagree on axis order (ADVICE r3)
    def _class_key(v):
        return (
            v is None,
            not isinstance(v, (int, float)),
            v if isinstance(v, (int, float)) else str(v),
        )

    def collect_cm(part):
        rows = confusion_matrix_normalized(part, y_true, y_pred).collect()
        classes = sorted(
            {r[y_true] for r in rows} | {r[y_pred] for r in rows},
            key=_class_key,
        )
        idx = {c: i for i, c in enumerate(classes)}
        m = [[0.0] * len(classes) for _ in classes]
        for r in rows:
            m[idx[r[y_true]]][idx[r[y_pred]]] = float(r["frac"])
        return classes, m

    cls_u, cm_u = collect_cm(df.filter(unpriv))
    cls_p, cm_p = collect_cm(df.filter(~unpriv))
    classes = sorted(set(cls_u) | set(cls_p), key=_class_key)

    def realign(cls, m):
        idx = {c: i for i, c in enumerate(cls)}
        return [
            [
                m[idx[a]][idx[b]] if a in idx and b in idx else 0.0
                for b in classes
            ]
            for a in classes
        ]

    pdf = render_confusion_matrix_pdf(realign(cls_u, cm_u), realign(cls_p, cm_p), classes)
    with open(path, "wb") as fh:
        fh.write(pdf)
    return classes

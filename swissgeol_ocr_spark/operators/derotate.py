"""Derotation with 90°-snap (T5) and polygon→line construction (T4/S7).

Reimplements the coordinate pipeline of the reference's detected-line
construction without pymupdf:

* rotation from the polygon's first edge, degrees in (-180, 180)
  (/root/reference/ocr/textract/textract_schema.py:17-30)
* unit-square → clip-rect affine transform
  (/root/reference/ocr/textract/textract.py:22-24)
* quad morph around the page's bottom-left corner with ``prerotate(-θ)``
  and the 25° snap-to-multiple-of-90 rule (slight detected angles are
  probably errors), then the straightened line-height band
  (/root/reference/ocr/textline.py:60-98)

The snap threshold (25°) is load-bearing for span-sequence equality: it
decides whether a line keeps its exact rotated bbox or gets a horizontal
band, which in turn shifts the rect the reading-order kernel sees.

All math is plain float64 trigonometry.
"""

from __future__ import annotations

import math

SNAP_DEGREES = 25.0  # textline.py:79,90


def rotation_degrees(p0x: float, p0y: float, p1x: float, p1y: float) -> float:
    """Angle of the polygon's first edge (textract_schema.py:17-30)."""
    return math.degrees(math.atan2(p1y - p0y, p1x - p0x))


def unit_to_rect_transform(x0: float, y0: float, x1: float, y1: float):
    """Affine mapping the unit square onto a clip rect
    (pymupdf ``Rect(0,0,1,1).torect(clip)``, textract.py:22-24):
    (x, y) → (x0 + x·w, y0 + y·h)."""
    w = x1 - x0
    h = y1 - y0

    def apply(px: float, py: float) -> tuple[float, float]:
        return (x0 + px * w, y0 + py * h)

    return apply


def _rotate_about(px: float, py: float, cx: float, cy: float, degrees: float):
    """Rotate (px,py) about (cx,cy) by pymupdf ``prerotate(degrees)``
    semantics: x' = x·cos + y·(−sin), y' = x·sin + y·cos (top-down axis)."""
    t = math.radians(degrees)
    c, s = math.cos(t), math.sin(t)
    dx, dy = px - cx, py - cy
    return (dx * c - dy * s + cx, dx * s + dy * c + cy)


def derotate_quad(
    quad: list[tuple[float, float]],
    orientation: float,
    page_height: float,
) -> tuple[tuple[float, float, float, float], float]:
    """(derotated_rect, snapped_orientation) for a 4-point quad in page
    coordinates ordered (top_left, top_right, bottom_right, bottom_left) —
    Textract polygon order; the reference picks points[0], [1], [-1], [-2]
    (textline.py:70-73).

    Faithful to textline.py:66-98: snap within 25° of a multiple of 90°,
    rotate the quad around the page's bottom-left corner (0, page_height)
    by −orientation, take the bounding rect; for snapped angles replace it
    with the line-height band around the vertical middle.
    """
    top_left, top_right = quad[0], quad[1]
    bottom_left, bottom_right = quad[-1], quad[-2]

    closest_90 = round(orientation / 90.0) * 90.0
    diff = orientation - closest_90
    snapped = abs(diff) < SNAP_DEGREES
    effective = closest_90 if snapped else orientation

    pts = [
        _rotate_about(px, py, 0.0, page_height, -effective)
        for (px, py) in (top_left, top_right, bottom_left, bottom_right)
    ]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    rect = (min(xs), min(ys), max(xs), max(ys))

    if snapped:
        middle_y = (rect[1] + rect[3]) / 2.0
        line_height = math.hypot(
            top_left[0] - bottom_left[0], top_left[1] - bottom_left[1]
        )
        rect = (rect[0], middle_y - line_height / 2.0, rect[2], middle_y + line_height / 2.0)

    return rect, effective

"""Fused per-tile evaluation of an expression tree.

One call evaluates the *entire* tree for one tile — operator fusion with no
intermediate materialisation, exactly like the reference's per-strip ``_eval``
(``_operators/__init__.py:855-895``) but over 2-D tiles inside an
Arrow-vectorized Spark kernel.  Includes the per-tile common-subexpression
cache: sub-trees whose structural hash occurs more than once in the plan are
computed once per (hash, request-window) and reused (``shared_hashes``;
reference ``_operators/cse.py``).

This module is deliberately Spark-free: the executor calls it from
``mapInArrow`` workers and ``read_array``, and tests call it directly on the
driver as the golden "local oracle" — the same kernel, one giant tile.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from ..grid import Area, MapProjection
from ..operators import KERNELS, LayerConstant, LayerOperation, Op


@dataclass
class EvalContext:
    area: Area
    projection: MapProjection
    shared_hashes: frozenset
    cache: dict = field(default_factory=dict)


def collect_hash_counts(node, counter: Counter | None = None,
                        _seen: set | None = None) -> Counter:
    """Count structural-hash occurrences across the tree; hashes seen twice or
    more become per-tile cache lines.

    Memoized by object identity so a DAG (``e = a + a; e = e + e; ...``)
    traverses in linear time instead of 2^depth paths — a revisited node
    still bumps its hash count (it IS a reuse, the whole point of CSE) but
    never recurses again."""
    if counter is None:
        counter = Counter()
    if _seen is None:
        _seen = set()
    h = node.cse_hash if not isinstance(node, LayerConstant) else None
    if h is not None:
        counter[h] += 1
    if id(node) in _seen:
        return counter
    _seen.add(id(node))
    if isinstance(node, LayerOperation):
        for child in node.children:
            collect_hash_counts(child, counter, _seen)
    return counter


def shared_hashes(root) -> frozenset:
    """The structural hashes that occur twice or more in the tree: the
    subtrees that earn a per-tile cache line (``EvalContext``)."""
    return frozenset(h for h, c in collect_hash_counts(root).items() if c >= 2)


def parquet_leaves(node, pad: int | None = 0, out: dict | None = None,
                   _seen: set | None = None) -> dict:
    """Every parquet raster table the tree reads, as ``{id(leaf): (leaf,
    pad)}``: through operations, whose conv2d halos add up along the path,
    and through mosaics (``GroupLayer``), whose children read the same
    window.  ``pad`` is the largest halo on any path to the leaf, or None
    when the leaf is only read through a reprojection, on another grid than
    the computation's.

    Memoized by (node identity, accumulated pad): re-entering a shared
    subtree with a pad already explored cannot change any leaf's pad, so
    DAG traversal stays linear per distinct pad instead of exponential."""
    # pylint: disable=C0415,W0212
    from ..sources.group import GroupLayer
    from ..sources.parquet import ParquetRasterLayer
    from ..sources.reprojected import ReprojectedLayer, _ExpressionLayer

    out = {} if out is None else out
    _seen = set() if _seen is None else _seen
    if (id(node), pad) in _seen:
        return out
    _seen.add((id(node), pad))
    inner = []
    if isinstance(node, ParquetRasterLayer):
        pads = [p for p in (out.get(id(node), (node, None))[1], pad) if p is not None]
        out[id(node)] = (node, max(pads, default=None))
    elif isinstance(node, LayerOperation):
        grown = None if pad is None else pad + node.buffer_padding
        inner = [(child, grown) for child in node.children]
    elif isinstance(node, GroupLayer):
        inner = [(child, pad) for child in node._layers_reversed]
    elif isinstance(node, ReprojectedLayer):
        inner = [(node._source, None)]
    elif isinstance(node, _ExpressionLayer):
        inner = [(node._tree, pad)]
    for child, child_pad in inner:
        parquet_leaves(child, child_pad, out, _seen)
    return out


def eval_tree(node, ctx: EvalContext, x: int, y: int, width: int, height: int) -> Any:
    """Evaluate ``node`` for the region (x, y, width, height) of the
    computation window (pixel offsets relative to the operation area origin).

    Returns a numpy array of shape ``(height, width)`` — or ``(height, 1)``
    for broadcastable uniform layers, or a scalar for constants.
    """
    if isinstance(node, LayerConstant):
        return node.val

    node_hash = node.cse_hash
    cache_key = (node_hash, x, y, width, height) if node_hash in ctx.shared_hashes else None
    if cache_key is not None and cache_key in ctx.cache:
        return ctx.cache[cache_key]

    if isinstance(node, LayerOperation):
        pad = node.buffer_padding
        if pad:
            x, y, width, height = x - pad, y - pad, width + 2 * pad, height + 2 * pad
        lhs = eval_tree(node.lhs, ctx, x, y, width, height)
        if node.operator is None:
            result = lhs
        else:
            fn = KERNELS[node.operator]
            if node.other is not None:
                rhs = eval_tree(node.rhs, ctx, x, y, width, height)
                other = eval_tree(node.other, ctx, x, y, width, height)
                result = fn(lhs, rhs, other, **node.kwargs)
            elif node.rhs is not None:
                rhs = eval_tree(node.rhs, ctx, x, y, width, height)
                result = fn(lhs, rhs, **node.kwargs)
            else:
                result = fn(lhs, **node.kwargs)
    else:
        result = node.read_region(ctx.area, ctx.projection, x, y, width, height)

    if cache_key is not None:
        ctx.cache[cache_key] = result
    return result


def cast_result(result, dtype: np.dtype) -> np.ndarray:
    """A tree's result cast to its declared ``dtype``, as ``save`` writes
    it, so every action sees the same values.  A cast that would turn
    floats into integers is left out: an integer tree reads NaN from a
    nodata pixel, and ``min``/``max``/``sum`` must see that NaN (``save``
    still casts such a result when it writes it)."""
    result = np.asarray(result)
    if np.can_cast(result.dtype, dtype, "same_kind"):
        return result.astype(dtype, copy=False)
    return result


def evaluate_window(tree, x: int = 0, y: int = 0, width: int | None = None,
                    height: int | None = None) -> np.ndarray:
    """Driver-side single-tile evaluation of a whole expression — the local
    oracle used by differential tests (and handy for small rasters) — cast
    to the tree's dtype as the tile grid's kernel casts every tile
    (``cast_result``)."""
    root = tree if isinstance(tree, LayerOperation) else LayerOperation(tree)
    projection = root.projection
    if projection is None:
        raise ValueError("No map projection")
    area = root.operation_area(projection)
    window = root.window
    if width is None:
        width = window.xsize
    if height is None:
        height = window.ysize
    ctx = EvalContext(
        area=area,
        projection=projection,
        shared_hashes=shared_hashes(root),
    )
    result = cast_result(eval_tree(root, ctx, x, y, width, height),
                         root.datatype.to_numpy())
    if result.shape != (height, width):
        result = np.broadcast_to(result, (height, width))
    return result

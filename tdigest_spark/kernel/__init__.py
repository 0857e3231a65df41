"""Sketch kernels (pure NumPy), one module per family."""


def merge_sketches(sketches):
    """Merge the non-None sketches of an iterable into an empty sketch
    like the first of them; None when there is none.  Mismatched
    parameters raise as the family's ``merge`` does."""
    out = None
    for s in sketches:
        if s is None:
            continue
        if out is None:
            out = s.empty()
        out.merge(s)
    return out

import ast
import os

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_tools_import_their_own_checkout():
    """A tool run from any checkout imports that checkout's engine: every
    ``sys.path`` entry a tool adds derives from ``__file__``, never a fixed
    path (which would make an A/B between two checkouts measure one tree)."""
    calls = 0
    for name in sorted(os.listdir(TOOLS)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(TOOLS, name), encoding="utf-8") as f:
            tree = ast.parse(f.read(), name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and ast.unparse(node.func).startswith("sys.path."):
                calls += 1
                entry = ast.unparse(node.args[-1])
                assert "__file__" in entry, (name, ast.unparse(node))
    assert calls >= 6


def test_time_queries_counts_jobs_through_public_apis():
    """time_queries.py counts a query's jobs by its job group through the
    status tracker, not the scheduler's private job counter."""
    with open(os.path.join(TOOLS, "time_queries.py"), encoding="utf-8") as f:
        src = f.read()
    assert "nextJobId" not in src and "dagScheduler" not in src
    assert "statusTracker().getJobIdsForGroup(" in src

from .checks import Check, CheckRegistry, route_violations, violation_counts  # noqa: F401

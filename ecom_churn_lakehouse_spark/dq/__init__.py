from .checks import CheckResult, DQGateFailure, DQReport, run_checks
from .expectations import ExpectationSuite, load_expectations_yaml, parse_expectations

__all__ = [
    "CheckResult",
    "DQGateFailure",
    "DQReport",
    "ExpectationSuite",
    "load_expectations_yaml",
    "parse_expectations",
    "run_checks",
]

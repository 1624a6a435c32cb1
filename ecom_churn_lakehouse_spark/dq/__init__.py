from .checks import CheckResult, DQGateFailure, DQReport, assert_single_value, run_checks
from .expectations import ExpectationSuite, load_expectations_yaml, parse_expectations

__all__ = [
    "CheckResult",
    "DQGateFailure",
    "DQReport",
    "ExpectationSuite",
    "assert_single_value",
    "load_expectations_yaml",
    "parse_expectations",
    "run_checks",
]

from .audit import (assert_broadcast_join, assert_no_cartesian,  # noqa: F401
                    assert_pushed_filters, count_partitionless_windows,
                    explain_str, masked_optimized_plan,
                    plan_digest, plan_report)

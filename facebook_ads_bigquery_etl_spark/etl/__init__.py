"""The two reference jobs (facebook insights, currency rates): the
pub/sub-style dispatcher, the Insights transform and the runner that
loads each day through its connector (``runner.handle_event``)."""

from .facebook import transform_insights  # noqa: F401
from .dispatch import dispatch_event  # noqa: F401

from .commit import CycleResult, EvmIngester  # noqa: F401
from .normalize import explode_batch  # noqa: F401

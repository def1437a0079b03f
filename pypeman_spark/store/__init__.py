from .msgstore import (  # noqa: F401
    FileMessageStore,
    MemoryMessageStore,
    MessageStore,
    NullMessageStore,
)
from .persistence import KVStore, MemoryKVStore  # noqa: F401
from .retry import RetryStore  # noqa: F401
from .txtable import (  # noqa: F401
    CommitConflict,
    ConstraintViolation,
    TxTable,
)
from .txtable_stream import TxTableChangesDataSource  # noqa: F401

from . import _worker

_worker.install()

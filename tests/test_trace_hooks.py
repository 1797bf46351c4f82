"""The benchmark's tracer wraps engine functions and methods by name
(perfbench/spans.py): every listed name must still exist, or a traced run
(``perfbench/run.py --trace 1``) fails. No Spark session is needed."""

import importlib
import importlib.util
import os

import pytest

_SPANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py")
_spec = importlib.util.spec_from_file_location("perfbench_spans", _SPANS)
spans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(spans)


@pytest.mark.parametrize("layer,module,attr", spans.FUNCTIONS)
def test_traced_function_resolves(layer, module, attr):
    assert layer in spans.LAYERS
    assert callable(getattr(importlib.import_module(module), attr))


@pytest.mark.parametrize("layer,module,cls,method", spans.METHODS)
def test_traced_method_is_defined_on_its_class(layer, module, cls, method):
    assert layer in spans.LAYERS
    # Tracer.install reads the class __dict__, so an inherited method does not count
    assert method in vars(getattr(importlib.import_module(module), cls))

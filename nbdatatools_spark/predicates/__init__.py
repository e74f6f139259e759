from nbdatatools_spark.predicates.pnode import (  # noqa: F401
    PNode,
    PredicateLeaf,
    Conjugate,
    parse_pnode,
)
from nbdatatools_spark.predicates.sqlcodec import (  # noqa: F401
    compile_pnode,
    render_cddl,
    render_cql,
    render_sql,
)
from nbdatatools_spark.predicates.wire import (  # noqa: F401
    decode_framed,
    decode_pnode,
    encode_framed,
    encode_pnode,
)

"""Seeded, Spark-side source for the seven Verifier Alliance tables.

Every column is a pure function of (seed, table, row index), computed by
executors from ``spark.range`` — nothing is built on the driver, and the
same seed gives the same rows at any partitioning. The shapes are the
exporter's inputs *before* normalization:

- keys are foreign-key consistent: contract ``i`` has creation code
  ``2i`` and runtime code ``2i+1``, deployment ``i``, compilation ``i``,
  sources ``2i`` and ``2i+1``, and verified contract ``i``;
- timestamps are tz-aware ``TimestampType`` instants;
- JSON columns are text with non-canonical spacing (``", "``/``": "``)
  and some nulls;
- widths are realistic: runtime bytecode up to 24 KB, multi-KB source
  text and ``compilation_artifacts``;
- code and source text are built from a small seeded set of blocks, so
  they compress the way real code does; hashes and addresses are sha256
  output, so they do not.

Some source columns are wider or narrower than declared (``chain_id``
int, ``transaction_index`` and ``id`` long) so the declared-schema cast
does real work.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame, SparkSession

TEMPLATE_BYTES = 96
N_TEMPLATES = 64
MAX_CODE_BLOCKS = 192  # 192 x (96 + 32) B = 24 KB of bytecode at most

_SOL_LINES = [
    "pragma solidity ^0.8.{v};",
    "import \"./interfaces/IERC20.sol\";",
    "contract Vault{n} is Ownable {{",
    "    mapping(address => uint256) private balances;",
    "    event Deposit(address indexed from, uint256 amount);",
    "    function deposit() external payable {{ balances[msg.sender] += msg.value; }}",
    "    function withdraw(uint256 amount) external {{",
    "        require(balances[msg.sender] >= amount, \"insufficient\");",
    "        payable(msg.sender).transfer(amount);",
    "    }}",
    "    /// @notice returns the balance of `owner`",
    "    function balanceOf(address owner) public view returns (uint256) {{ return balances[owner]; }}",
    "}}",
    "library SafeMath{n} {{ function add(uint a, uint b) internal pure returns (uint) {{ return a + b; }} }}",
]


def _hash_hex(seed: int, tag: str, key: str) -> str:
    """SQL for 64 hex chars of sha256 over (seed, tag, key)."""
    return f"sha2(concat('{seed}:{tag}:', {key}), 256)"


def _bytes(seed: int, tag: str, key: str, n: int = 32) -> str:
    return f"unhex(substr({_hash_hex(seed, tag, key)}, 1, {2 * n}))"


def _uuid(seed: int, tag: str, key: str) -> str:
    h = _hash_hex(seed, tag, key)
    return (
        f"concat_ws('-', substr({h}, 1, 8), substr({h}, 9, 4), "
        f"substr({h}, 13, 4), substr({h}, 17, 4), substr({h}, 21, 12))"
    )


def _pick(seed: int, tag: str, key: str, n: int) -> str:
    """SQL for a seeded integer in [0, n)."""
    return f"pmod(xxhash64({seed}, '{tag}', {key}), {n})"


def _audit(seed: int, key: str) -> dict[str, str]:
    # 2024-01-01T00:00:00Z plus up to a year, microsecond resolution
    created = f"1704067200000000 + {_pick(seed, 'created', key, 31_536_000_000_000)}"
    return {
        "created_at": f"timestamp_micros({created})",
        "updated_at": f"timestamp_micros({created} + {_pick(seed, 'upd', key, 86_400_000_000)})",
        "created_by": f"IF({_pick(seed, 'cb', key, 2)} = 0, 'sourcify', 'blockscout')",
        "updated_by": f"IF({_pick(seed, 'ub', key, 20)} = 0, NULL, 'sourcify')",
    }


def _nullable(seed: int, tag: str, key: str, expr: str, one_in: int = 10) -> str:
    return f"IF({_pick(seed, tag + '-null', key, one_in)} = 0, NULL, {expr})"


def _select(spark: SparkSession, n: int, parts: int, cols: dict[str, str]) -> DataFrame:
    return spark.range(0, n, 1, parts).selectExpr(
        *[f"{expr} AS `{name}`" for name, expr in cols.items()]
    )


def vera_tables(spark: SparkSession, seed: int, n_contracts: int, parts: int = 4) -> dict[str, DataFrame]:
    """The seven source tables for ``n_contracts`` contracts."""
    rng = np.random.default_rng(seed)
    blocks = [rng.bytes(TEMPLATE_BYTES).hex() for _ in range(N_TEMPLATES)]
    block_arr = "array(" + ", ".join(f"'{b}'" for b in blocks) + ")"
    lines = [
        line.format(v=int(rng.integers(0, 26)), n=int(rng.integers(0, 1000)))
        for line in _SOL_LINES
    ]
    line_arr = "array(" + ", ".join(f"'{ln}'" for ln in lines) + ")"  # no line holds a quote
    s = seed
    n2 = 2 * n_contracts

    # bytecode: 1..192 blocks; each block is a seeded template (compressible)
    # followed by 32 row-unique bytes (PUSH constants, not compressible)
    code_expr = (
        f"unhex(array_join(transform(sequence(1, 1 + {_pick(s, 'nblk', 'id', MAX_CODE_BLOCKS)}), "
        f"j -> concat(element_at({block_arr}, cast(1 + pmod(xxhash64({s}, id, j), {N_TEMPLATES}) AS INT)), "
        f"sha2(concat('{s}:op:', id, ':', j), 256))), ''))"
    )
    code = _select(
        spark,
        n2,
        parts,
        {
            "code_hash": _bytes(s, "code", "id"),
            "code": _nullable(s, "code", "id", code_expr, one_in=50),
            "code_hash_keccak": _bytes(s, "keccak", "id"),
            **_audit(s, "id"),
        },
    )
    contracts = _select(
        spark,
        n_contracts,
        parts,
        {
            "id": _uuid(s, "contract", "id"),
            "creation_code_hash": _bytes(s, "code", "2 * id"),
            "runtime_code_hash": _bytes(s, "code", "2 * id + 1"),
            **_audit(s, "id"),
        },
    )
    deployments = _select(
        spark,
        n_contracts,
        parts,
        {
            "id": _uuid(s, "deploy", "id"),
            "chain_id": f"cast(element_at(array(1, 10, 137, 8453, 42161), "
            f"cast(1 + {_pick(s, 'chain', 'id', 5)} AS INT)) AS INT)",
            "address": _bytes(s, "addr", "id", 20),
            "transaction_hash": _bytes(s, "tx", "id"),
            "block_number": f"10000000 + {_pick(s, 'block', 'id', 9_000_000)}",
            "transaction_index": _pick(s, "txi", "id", 300),
            "deployer": _bytes(s, "deployer", _pick(s, "dep", "id", 200), 20),
            "contract_id": _uuid(s, "contract", "id"),
            **_audit(s, "id"),
        },
    )
    abi_entry = (
        "concat('{\"name\": \"fn', j, '\", \"type\": \"function\", \"inputs\": "
        "[{\"name\": \"amount\", \"type\": \"uint256\"}, {\"name\": \"to\", \"type\": \"address\"}], "
        "\"outputs\": [{\"name\": \"\", \"type\": \"bool\"}], \"stateMutability\": ', "
        "IF(pmod(j, 3) = 0, '\"view\"', '\"nonpayable\"'), '}')"
    )
    artifacts = (
        "concat('{\"abi\": [', array_join(transform(sequence(1, 5 + "
        f"{_pick(s, 'nabi', 'id', 40)}), j -> {abi_entry}), ', '), "
        "'], \"userdoc\": {\"kind\": \"user\", \"methods\": {}, \"version\": 1}, "
        "\"devdoc\": {\"kind\": \"dev\", \"methods\": {}, \"version\": 1}, "
        "\"storageLayout\": null, \"sources\": {\"contracts/C', id, '.sol\": {\"id\": 0}}}')"
    )
    code_artifacts = (
        "concat('{\"sourceMap\": \"', repeat('1:2:0:-;', 8 + "
        f"{_pick(s, 'smap', 'id', 40)}), '\", \"linkReferences\": {{}}, "
        "\"immutableReferences\": {}, \"cborAuxdata\": {\"1\": {\"offset\": ', "
        f"{_pick(s, 'cbor', 'id', 20000)}, ', \"value\": \"0xa264\"}}}}}}')"
    )
    compiled = _select(
        spark,
        n_contracts,
        parts,
        {
            "id": _uuid(s, "comp", "id"),
            **_audit(s, "id"),
            "compiler": f"IF({_pick(s, 'lang', 'id', 8)} = 0, 'vyper', 'solc')",
            "version": f"concat('0.8.', {_pick(s, 'ver', 'id', 26)})",
            "language": f"IF({_pick(s, 'lang', 'id', 8)} = 0, 'Vyper', 'Solidity')",
            "name": "concat('Contract', id)",
            "fully_qualified_name": "concat('contracts/C', id, '.sol:Contract', id)",
            "compiler_settings": (
                "concat('{\"optimizer\": {\"enabled\": ', "
                f"IF({_pick(s, 'opt', 'id', 2)} = 0, 'true', 'false'), "
                "', \"runs\": 200}, \"evmVersion\": \"paris\", \"remappings\": [], "
                "\"outputSelection\": {\"*\": {\"*\": [\"abi\", \"evm.bytecode\"]}}}')"
            ),
            "compilation_artifacts": artifacts,
            "creation_code_hash": _bytes(s, "code", "2 * id"),
            "creation_code_artifacts": _nullable(s, "cca", "id", code_artifacts),
            "runtime_code_hash": _bytes(s, "code", "2 * id + 1"),
            "runtime_code_artifacts": code_artifacts,
        },
    )
    content = (
        f"array_join(transform(sequence(1, 20 + {_pick(s, 'nlines', 'id', 120)}), "
        f"j -> concat(element_at({line_arr}, cast(1 + pmod(xxhash64({s}, id, j), "
        f"{len(lines)}) AS INT)), ' // ', pmod(xxhash64({s}, 'ln', id, j), 100000))), '\\n')"
    )
    sources = _select(
        spark,
        n2,
        parts,
        {
            "source_hash": _bytes(s, "src", "id"),
            "source_hash_keccak": _bytes(s, "srck", "id"),
            "content": content,
            **_audit(s, "id"),
        },
    )
    ccs = _select(
        spark,
        n2,
        parts,
        {
            "id": _uuid(s, "ccs", "id"),
            "compilation_id": _uuid(s, "comp", "id div 2"),
            "source_hash": _bytes(s, "src", "id"),
            "path": "concat('contracts/C', id div 2, '_', pmod(id, 2), '.sol')",
        },
    )
    values = (
        "concat('{\"constructorArguments\": \"0x', substr("
        f"{_hash_hex(s, 'args', 'id')}, 1, 64), '\", \"libraries\": {{}}}}')"
    )
    transformations = (
        "concat('[{\"id\": \"0\", \"type\": \"replace\", \"reason\": \"cborAuxdata\", "
        "\"offset\": ', "
        f"{_pick(s, 'toff', 'id', 20000)}, '}}]')"
    )
    verified = _select(
        spark,
        n_contracts,
        parts,
        {
            "id": "id",
            **_audit(s, "id"),
            "deployment_id": _uuid(s, "deploy", "id"),
            "compilation_id": _uuid(s, "comp", "id"),
            "creation_match": f"{_pick(s, 'cm', 'id', 4)} > 0",
            "creation_values": _nullable(s, "cv", "id", values, one_in=3),
            "creation_transformations": _nullable(s, "ct", "id", transformations, one_in=3),
            "runtime_match": "true",
            "runtime_values": _nullable(s, "rv", "id", values, one_in=2),
            "runtime_transformations": transformations,
            "runtime_metadata_match": f"{_pick(s, 'rmm', 'id', 5)} > 0",
            "creation_metadata_match": f"{_pick(s, 'cmm', 'id', 5)} > 0",
        },
    )
    return {
        "code": code,
        "contracts": contracts,
        "contract_deployments": deployments,
        "compiled_contracts": compiled,
        "compiled_contracts_sources": ccs,
        "sources": sources,
        "verified_contracts": verified,
    }


def write_vera_source(
    spark: SparkSession, out_dir: str, seed: int, n_contracts: int, parts: int = 4
) -> None:
    """Write each table as parquet under ``{out_dir}/{table}/``, the
    tables from a small thread pool (the jobs are short)."""
    tables = vera_tables(spark, seed, n_contracts, parts)
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(lambda t: tables[t].write.mode("overwrite").parquet(f"{out_dir}/{t}"), tables))

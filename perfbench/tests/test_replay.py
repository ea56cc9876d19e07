"""The pure-Python ledger replay against hand-computed cost bases."""

from perfbench.oracles import LedgerReplay, round_avg


def test_buy_averages_in_weighted_by_shares():
    r = LedgerReplay({})
    r.apply([(1, "A", "BUY", 10, 100.0)])
    r.apply([(1, "A", "BUY", 30, 120.0)])
    # (10*100 + 30*120) / 40 = 115
    assert r.positions[1]["A"] == (40, 115.0)


def test_sell_keeps_the_average_and_selling_all_closes():
    r = LedgerReplay({1: {"A": (40, 115.0)}})
    r.apply([(1, "A", "SELL", 15, 999.0)])
    assert r.positions[1]["A"] == (25, 115.0)
    r.apply([(1, "A", "SELL", 25, 1.0)])
    assert "A" not in r.positions[1]


def test_oversell_is_rejected_and_changes_nothing():
    r = LedgerReplay({1: {"A": (5, 10.0)}})
    r.apply([(1, "A", "SELL", 6, 10.0), (1, "B", "SELL", 1, 10.0)])
    assert r.positions[1] == {"A": (5, 10.0)}
    assert r.rejected == 2


def test_average_rounds_half_up_on_the_decimal_text():
    # (2.0 + 2.0001) / 2 prints as 2.00005: half-up gives 2.0001, where
    # Python's round() on the binary value would give 2.0
    r = LedgerReplay({1: {"A": (1, 2.0)}})
    r.apply([(1, "A", "BUY", 1, 2.0001)])
    assert r.positions[1]["A"] == (2, 2.0001)
    assert round((2.0 + 2.0001) / 2, 4) == 2.0
    assert round_avg(2.00004999) == 2.0
    assert round_avg(101.33333333333333) == 101.3333


def test_trades_apply_in_batch_order():
    r = LedgerReplay({})
    r.apply([(7, "X", "BUY", 2, 10.0), (7, "X", "SELL", 2, 11.0),
             (7, "X", "BUY", 1, 12.0)])
    assert r.positions[7]["X"] == (1, 12.0)


def test_frame_lists_positions_of_the_requested_portfolios():
    r = LedgerReplay({1: {"A": (1, 2.0)}, 2: {"B": (3, 4.0)}})
    assert r.frame([2]).values.tolist() == [[2, "B", 3, 4.0]]
    assert len(r.frame()) == 2
    assert r.frame([9]).empty
